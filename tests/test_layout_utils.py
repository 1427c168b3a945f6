"""Write-side layout utilities: compaction and sorted partitioned writes."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark.catalog import load
from nyc_analytics_database_platform_spark.sources.layout import (
    compact_parquet,
    write_partitioned,
)

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def test_compact_parquet_reduces_file_count(spark, sf_dir):
    path = os.path.join(TMP, f"compact_{uuid.uuid4().hex[:8]}")
    try:
        load(spark, sf_dir, "orders").repartition(24).write.parquet(path)
        before_rows = spark.read.parquet(path).count()
        n_before, n_after = compact_parquet(spark, path, target_file_bytes=1 << 30)
        assert n_before == 24
        assert n_after < n_before
        assert spark.read.parquet(path).count() == before_rows
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_compact_parquet_hive_partitioned_preserves_layout(spark, sf_dir):
    """Partitioned datasets compact per leaf dir: the key=value layout
    survives and partition pruning still works afterwards."""
    path = os.path.join(TMP, f"compact_hive_{uuid.uuid4().hex[:8]}")
    try:
        df = load(spark, sf_dir, "orders").withColumn(
            "status_part", F.col("o_orderstatus")
        )
        df.repartition(6).write.partitionBy("status_part").parquet(path)
        before_rows = spark.read.parquet(path).count()
        leaves_before = sorted(
            os.path.basename(p) for p in glob.glob(os.path.join(path, "status_part=*"))
        )
        n_before, n_after = compact_parquet(spark, path, target_file_bytes=1 << 30)
        leaves_after = sorted(
            os.path.basename(p) for p in glob.glob(os.path.join(path, "status_part=*"))
        )
        assert leaves_after == leaves_before  # layout not flattened
        assert n_after < n_before
        back = spark.read.parquet(path)
        assert back.count() == before_rows
        # pruning still applies: one leaf readable standalone
        one = back.filter(F.col("status_part") == leaves_before[0].split("=")[1])
        assert one.count() > 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_write_partitioned_with_sort(spark, sf_dir):
    path = os.path.join(TMP, f"part_{uuid.uuid4().hex[:8]}")
    try:
        df = load(spark, sf_dir, "orders").withColumn(
            "order_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        write_partitioned(df, path, ["order_month"], sort_within=["o_orderdate"])
        assert glob.glob(os.path.join(path, "order_month=*"))
        back = spark.read.parquet(path)
        assert back.count() == df.count()
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_zorder_sort_clusters_both_dimensions(spark, sf_dir):
    """After z-order layout, each output partition covers a much narrower
    range of BOTH dimensions than the table's global range - the min/max
    bounds a parquet writer would persist per file, i.e. two-dimensional
    scan pruning actually works."""
    from pyspark.sql import functions as F

    from nyc_analytics_database_platform_spark.catalog import load
    from nyc_analytics_database_platform_spark.functions.zorder import zorder_sort

    # both dimensions quantized to the same 10-bit width (z-order only
    # balances dimensions of comparable bit width)
    orders = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 1024).alias("x"),
        (F.expr("datediff(o_orderdate, DATE '1970-01-01')") % 1024).alias("y"),
    )
    glob = orders.agg(
        (F.max("x") - F.min("x")).alias("sx"), (F.max("y") - F.min("y")).alias("sy")
    ).collect()[0]

    laid = zorder_sort(orders, "x", "y", bits=10, num_partitions=16)
    spreads = (
        laid.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") > 20)  # tiny partitions have degenerate spreads
        .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
        .collect()[0]
    )
    assert spreads["ax"] < 0.6 * glob["sx"], (spreads, glob)
    assert spreads["ay"] < 0.6 * glob["sy"], (spreads, glob)


def test_morton_key_int_inputs_nonnegative_and_matches_long(spark):
    """Regression (round-9 advice): morton_key over IntegerType columns
    must not wrap negative when the top y bit lands on bit 31. The key of
    (x=1, y=40000) on int inputs must equal the long-input key and stay
    non-negative, so the z-order sort is the same whatever integral type
    callers pass."""
    from nyc_analytics_database_platform_spark.operators.layout import morton_key

    df = spark.range(1).select(
        F.lit(1).cast("int").alias("xi"),
        F.lit(40000).cast("int").alias("yi"),
        F.lit(1).cast("long").alias("xl"),
        F.lit(40000).cast("long").alias("yl"),
    )
    row = df.select(
        morton_key(F.col("xi"), F.col("yi")).alias("k_int"),
        morton_key(F.col("xl"), F.col("yl")).alias("k_long"),
    ).collect()[0]
    assert row.k_int == row.k_long
    assert row.k_int >= 0


def test_layouts_lifecycle_contract(tmp_path):
    """The single layouts module (VERDICT r9 #8): stamp mismatch, marker
    commit ordering, and the empty-adopt guard (ADVICE r9)."""
    from nyc_analytics_database_platform_spark import layouts

    marker = str(tmp_path / "family" / "_done")
    data = tmp_path / "data"
    # no marker yet -> stale
    assert not layouts.is_fresh(marker, "s1")
    layouts.mark_fresh(marker, "s1")
    assert layouts.is_fresh(marker, "s1")
    # changed stamp (regenerated source or new spec) -> stale
    assert not layouts.is_fresh(marker, "s2")
    # data_dirs guard: marker alone never justifies adopting an empty dir
    assert not layouts.is_fresh(marker, "s1", data_dirs=(str(data),))
    data.mkdir()
    assert not layouts.is_fresh(marker, "s1", data_dirs=(str(data),))
    (data / "part-000.parquet").write_bytes(b"x")
    assert layouts.is_fresh(marker, "s1", data_dirs=(str(data),))


def test_layouts_source_stamp_tracks_mtime_and_spec(sf_dir):
    from nyc_analytics_database_platform_spark import layouts

    s1 = layouts.source_stamp(sf_dir, "orders")
    assert s1 == layouts.source_stamp(sf_dir, "orders")
    assert s1 != layouts.source_stamp(sf_dir, "orders", spec="n=32")
    assert s1 != layouts.source_stamp(sf_dir, "orders", "customer")
    # scratch paths are namespaced by family and sf tag
    a = layouts.scratch(sf_dir, "fam1", "x")
    b = layouts.scratch("/other/dir", "fam1", "x")
    assert a != b and "fam1" in a


def test_clear_engine_state_drops_artifact_memo(spark, sf_dir):
    """clear_engine_state unpersists every RDD - including the blocks
    behind localCheckpoint-backed session_artifact frames. The memo must
    be invalidated in the same sweep, or later consumers get a dead plan
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND - the round-13 registry-sweep red)."""
    from nyc_analytics_database_platform_spark import layouts
    from nyc_analytics_database_platform_spark.catalog import (
        clear_engine_state,
        load,
    )

    key = ("test-artifact-memo", "stamp0")
    builds = []

    def builder():
        builds.append(1)
        return load(spark, sf_dir, "region").localCheckpoint(eager=True)

    first = layouts.session_artifact(spark, key, builder)
    n = first.count()
    assert n > 0 and builds == [1]
    # memo hit while the checkpoint blocks are alive: no rebuild
    assert layouts.session_artifact(spark, key, builder) is first
    assert builds == [1]
    clear_engine_state(spark)
    again = layouts.session_artifact(spark, key, builder)
    assert builds == [1, 1], "memo must rebuild after clear_engine_state"
    assert again.count() == n  # and the rebuilt frame must evaluate


def test_session_artifact_builds_once_under_concurrency():
    """Clients that miss the same key together build it once: the miss path
    holds one lock, so the others wait and take the first build's value."""
    import sys
    import threading
    import time
    import types
    from concurrent.futures import ThreadPoolExecutor

    from nyc_analytics_database_platform_spark import layouts

    session = types.SimpleNamespace()  # the memo only needs an attribute slot
    start = threading.Barrier(4)
    builds = []

    def builder():
        builds.append(1)
        time.sleep(0.05)  # keep the build open while the others arrive
        return object()

    def client(_):
        start.wait(timeout=10)
        return layouts.session_artifact(session, ("test-concurrent-memo",), builder)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(4) as pool:
            values = list(pool.map(client, range(4), timeout=30))
    finally:
        sys.setswitchinterval(interval)
    assert builds == [1]
    assert all(v is values[0] for v in values)


def test_source_stamp_sees_same_second_rewrite(tmp_path):
    """A table rewritten with a different size whose mtime is then set back
    (same second, even the same nanosecond) still changes the stamp, so a
    persisted layout built from the old file is never adopted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_analytics_database_platform_spark import layouts
    from nyc_analytics_database_platform_spark.catalog import table_path

    sf = str(tmp_path)
    path = table_path(sf, "t")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    before = os.stat(path)
    s1 = layouts.source_stamp(sf, "t")
    pq.write_table(pa.table({"k": list(range(100))}), path)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    assert os.stat(path).st_size != before.st_size
    assert layouts.source_stamp(sf, "t") != s1


def test_clear_engine_state_keeps_load_memo(spark, sf_dir):
    """The two memo lifetimes: clear_engine_state empties the block-backed
    artifact memo but keeps catalog.load's plan memo, whose entries carry
    the file stamp they were read at."""
    from nyc_analytics_database_platform_spark import layouts
    from nyc_analytics_database_platform_spark.catalog import (
        clear_engine_state,
        file_stamp,
        load,
        table_path,
    )

    frame = load(spark, sf_dir, "region")
    layouts.session_artifact(spark, ("test-lifetimes",), lambda: 1)
    clear_engine_state(spark)
    assert not spark._nadb_artifact_cache
    stamp, memo_frame = spark._nadb_load_cache[(sf_dir, "region", False)]
    assert memo_frame is frame
    assert stamp == file_stamp(table_path(sf_dir, "region"))
    assert load(spark, sf_dir, "region") is frame


def test_footer_readers_fall_back_on_nested_layouts(spark, tmp_path):
    """footer_row_count / footer_column_minmax read top-level files only, so
    a table directory that also holds a subdirectory is answered by one
    Spark aggregate over the table instead of an undercount: a partitioned
    layout gives the values of the same files laid out flat, and a mixed
    one (top-level files beside a partition directory) what Spark reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_analytics_database_platform_spark.catalog import (
        footer_column_minmax,
        footer_row_count,
        table_path,
    )

    def write(sf, rel, table):
        path = os.path.join(table_path(str(tmp_path / sf), "t"), rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return str(tmp_path / sf)

    part, late = pa.table({"k": [1, 2, 3]}), pa.table({"k": [9]})
    flat = write("flat", "part-0.parquet", part)
    assert footer_row_count(spark, flat, "t") == 3
    assert footer_column_minmax(spark, flat, "t", "k") == (1, 3)
    write("flat", "part-1.parquet", late)
    write("nested", "batch=0/part-0.parquet", part)
    nested = write("nested", "batch=1/part-1.parquet", late)
    assert footer_row_count(spark, nested, "t") == footer_row_count(spark, flat, "t") == 4
    assert (footer_column_minmax(spark, nested, "t", "k")
            == footer_column_minmax(spark, flat, "t", "k") == (1, 9))
    write("mixed", "part-0.parquet", part)
    mixed = write("mixed", "batch=1/part-1.parquet", late)
    seen = spark.read.parquet(table_path(mixed, "t"))
    assert footer_row_count(spark, mixed, "t") == seen.count()
    assert (footer_column_minmax(spark, mixed, "t", "k")
            == tuple(seen.agg(F.min("k"), F.max("k")).first()))
