"""Catalog: loaders for the driver-generated testdata tables.

Mirrors the reference's fixed relational schema idea (reference:
schema.sql:1-74 - explicit DDL, no inference) on the TPC-H-ish driver tables.
Parquet carries the schema; loaders add engine-level conventions:

- every loader is a plain `spark.read.parquet` so Catalyst gets full
  predicate pushdown / column pruning into the scan;
- `register_views` exposes the tables to the SQL API under their bare names
  (the same names the DuckDB oracle pre-registers).

At 100 TB the facts (orders/lineitem/events/documents/embeddings) would be
written partitioned (e.g. orders by month(o_orderdate), events by date) and
optionally bucketed by join key; the loaders keep that invisible to queries.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale (region/nation
# are bounded by geography; the others are bounded at the driver's SFs but
# become shuffle joins at 100 TB - queries mark broadcast explicitly only for
# the bounded ones and let AQE decide for the rest).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def file_stamp(path: str) -> tuple:
    """The engine's one freshness token: (name, st_mtime_ns, st_size) for
    each parquet file of a local file, table directory (walked, names
    relative to it) or file: URI. A rewrite at the same path changes it,
    even within the same second. A non-local URI stamps as itself. Every
    memo and persisted-layout marker that outlives a query keys on it."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return (path,)
    local = unquote(url.path) if url.scheme else path
    if not os.path.isdir(local):
        st = os.stat(local)
        return ((os.path.basename(local), st.st_mtime_ns, st.st_size),)
    stamp = []
    for root, _dirs, files in os.walk(local):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), local)
                stamp.append((rel, st.st_mtime_ns, st.st_size))
    return tuple(sorted(stamp))


def clear_engine_state(spark: SparkSession) -> None:
    """Drop EVERYTHING the block manager holds between independent query
    executions: `catalog.clearCache()` only drops SQL-cache entries, but
    the engine's iterative operators (PCA, graph CC, survivor frames,
    `ranked_by_range`'s pinned shard layout) use `localCheckpoint`, whose
    blocks persist at the RDD layer until driver GC gets around to them.
    Left alone they accumulate across any loop that runs many registered
    queries (bench, plan_audit, the registry invariants test) and later
    queries pay for every earlier query's resident blocks.

    The session artifact memo (layouts.session_artifact) must be dropped
    FIRST: its entries are localCheckpoint-backed frames whose blocks the
    unpersist loop below destroys, and a memo that outlives its blocks
    hands every later consumer a dead plan
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND - seen in the registry invariants
    sweep, round 13). The same memo holds nyc.api's driver-side dimension
    maps, so this drops those too and the next request rebuilds them.

    The catalog.load memo stays: its frames are plans, not blocks, each
    re-reads itself when its table's file_stamp changes, and dropping them
    would re-pay ~80 ms of schema inference per table per query."""
    memo = getattr(spark, "_nadb_artifact_cache", None)
    if memo is not None:
        memo.clear()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        try:
            rdd.unpersist()
        except Exception:  # noqa: BLE001 - cleanup is best-effort
            pass


def capture_plan(df: DataFrame, label: str) -> None:
    """Profiler hook for EAGER composites: when a profiler has installed
    `spark._nadb_plan_capture = []` (scripts/qprof.py --capture-internal),
    append this internal stage frame's formatted plan under `label`. The
    composite's returned frame is often a bare createDataFrame (its jobs ran
    at build time), so without this hook the committed 'plan evidence' for
    such queries is uninformative (VERDICT r13 #7). No-op (one getattr) in
    normal runs."""
    cap = getattr(df.sparkSession, "_nadb_plan_capture", None)
    if cap is None:
        return
    try:
        qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
        text = df.sparkSession._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            qe, "formatted"
        )
    except Exception as e:  # noqa: BLE001 - capture must never break a query
        text = f"<capture failed: {type(e).__name__}: {e}>"
    cap.append((label, text))


def _footer_files(path: str) -> list[str]:
    """The parquet files whose footers describe a table: the file itself,
    or every top-level .parquet file of a flat table directory. Raises
    ValueError on a directory holding any subdirectory (a partitioned or
    mixed layout, whose nested files a top-level listing would silently
    leave out) or no .parquet file."""
    if not os.path.isdir(path):
        return [path]
    entries = os.listdir(path)
    if any(os.path.isdir(os.path.join(path, e)) for e in entries):
        raise ValueError(f"subdirectories under {path}; nested layouts need a Spark job")
    files = [os.path.join(path, f) for f in entries if f.endswith(".parquet")]
    if not files:
        raise ValueError(f"no .parquet files under {path}")
    return files


def footer_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Table row count from parquet footer metadata: a driver-side read,
    no Spark job. For plan-selection heuristics (e.g. the RFM quintile path
    switch) where a count() job inside the timed query body would add a
    full fact scan at exactly the scales where the switch matters. A layout
    the footers cannot describe (nested or mixed directories, a path
    pyarrow cannot open) is answered by one Spark count over the table."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in _footer_files(path))
    except (OSError, ValueError):
        return spark.read.parquet(path).count()


def footer_file_minmax(path: str, column: str):
    """(min, max) of a column in ONE parquet file from its footer
    statistics, no Spark job; (None, None) when a row group lacks them.
    The per-file reader behind footer_column_minmax and txnlog's
    file-granular pruning."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = [md.schema.column(i).name for i in range(md.num_columns)].index(column)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        lo = st.min if lo is None or st.min < lo else lo
        hi = st.max if hi is None or st.max > hi else hi
    return lo, hi


def footer_column_minmax(spark: SparkSession, sf_dir: str, name: str, column: str):
    """(min, max) of a table column from parquet footer statistics: the
    column twin of footer_row_count, for anchor/horizon scalars (e.g.
    MAX(o_orderdate)) that otherwise cost a full fact scan inside the timed
    query body. At 100 TB the same scalars come from the table format's
    manifest. A layout the footers cannot describe (nested or mixed
    directories, a file without stats for the column) is answered by one
    Spark aggregate over the table."""
    path = table_path(sf_dir, name)
    try:
        pairs = [footer_file_minmax(f, column) for f in _footer_files(path)]
    except (OSError, ValueError):
        pairs = [(None, None)]
    if all(lo is not None for lo, _ in pairs):
        return min(lo for lo, _ in pairs), max(hi for _, hi in pairs)
    row = spark.read.parquet(path).agg(F.min(column), F.max(column)).first()
    return row[0], row[1]


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    parallel: bool = False,
) -> DataFrame:
    """Load a table. `parallel=True` guarantees the frame has at least the
    cluster's default parallelism in partitions - required for CPU-bound
    per-row pipelines (shingling, hashing, vector math) over small files:
    a few-MB parquet arrives as ONE partition and would otherwise pin the
    whole pipeline to one core. The repartition shuffle is a few MB - noise
    next to the per-row work it parallelizes. At 100 TB inputs are already
    wide and the guard is a no-op.

    The frame is reused while the table's file_stamp holds; a table
    rewritten at the same path is re-read on the next call."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Legacy-generation events stored TIMESTAMP(NANOS), unreadable by
        # the vectorized reader without nanosAsLong (harmless for the
        # current micros-typed files; keeps older testdata loadable).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Self-provisioned confs - the grading driver calls queries() with ITS
    # OWN SparkSession (not session.py's). ENGINE CONTRACT (documented in
    # README): every catalog timestamp is stored naive (parquet
    # isAdjustedToUTC=false) and must read as LTZ in a UTC-pinned session -
    # one uniform timestamp type for unix_micros/window/watermark, and
    # LTZ->string rendering that matches the oracle's naive timestamps
    # regardless of the host session's default timezone. A deliberate
    # warehouse-style invariant, at the cost of overriding a caller's
    # custom timezone for subsequent LTZ rendering.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Memoize the (lazy, immutable) DataFrame per session with the stamp it
    # was read at: a read pays a schema-inference Spark job plus a file
    # listing - pure fixed overhead when the same table is loaded by dozens
    # of queries in one session (bench/driver/tests). The cache lives ON
    # the session object so a fresh driver session starts clean; conf
    # pinning above stays unconditional.
    cache = getattr(spark, "_nadb_load_cache", None)
    if cache is None:
        cache = {}
        spark._nadb_load_cache = cache  # type: ignore[attr-defined]
    ck = (sf_dir, name, parallel)
    path = table_path(sf_dir, name)
    stamp = file_stamp(path)
    hit = cache.get(ck)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    df = spark.read.parquet(path)
    if parallel:
        # File count is a driver-side lookup (no job, no RDD conversion -
        # df.rdd.getNumPartitions() would force one per load). Fewer files
        # than cores implies the scan can't fan out enough for CPU-bound
        # per-row work; at 100 TB inputs have >> cores files and this is a
        # no-op.
        target = spark.sparkContext.defaultParallelism
        if len(df.inputFiles()) < target:
            df = df.repartition(target)
    if name == "events":
        # ts is TIMESTAMP(NANOS) in the file, read as long nanos; normalize
        # to a microsecond timestamp with true FLOOR division - `div`
        # truncates toward zero, which differs from DuckDB's ns->us cast for
        # pre-epoch timestamps. (ts - pmod(ts, 1000)) div 1000 floors exactly
        # in long arithmetic (no double round-trip).
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
            )
    cache[ck] = (stamp, df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (same names as the DuckDB oracle).
    Overwrites same-named temp views - the catalog owns these names. A view
    is re-registered only when its load frame changed (another sf_dir, or
    a rewritten table), so a warm call costs one load memo hit per table."""
    views = getattr(spark, "_nadb_views", None)
    if views is None:
        views = spark._nadb_views = {}  # type: ignore[attr-defined]
    for name in TABLES:
        df = load(spark, sf_dir, name)
        if views.get(name) is not df:
            df.createOrReplaceTempView(name)
            views[name] = df


def sql(spark: SparkSession, sf_dir: str, query: str, args=None) -> DataFrame:
    """Raw-SQL entry point: every catalog table is available by name, so the
    full engine surface is reachable from plain Spark SQL (Catalyst produces
    the same plans as the DataFrame API). `args` binds parameter markers
    (spark.sql's own argument)."""
    register_views(spark, sf_dir)
    return spark.sql(query, args=args)
