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

from pyspark.sql import DataFrame, SparkSession

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
    maps, so this drops those too and the next request rebuilds them."""
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
    leave out) or no .parquet file; callers fall back to a Spark job."""
    if not os.path.isdir(path):
        return [path]
    entries = os.listdir(path)
    if any(os.path.isdir(os.path.join(path, e)) for e in entries):
        raise ValueError(f"subdirectories under {path}; nested layouts need a Spark job")
    files = [os.path.join(path, f) for f in entries if f.endswith(".parquet")]
    if not files:
        raise ValueError(f"no .parquet files under {path}")
    return files


_ROW_COUNT_CACHE: dict = {}


def footer_row_count(sf_dir: str, name: str) -> int:
    """Table row count from parquet footer metadata — a driver-side footer
    read, NO Spark job. Memoized per (sf_dir, name). For plan-selection
    heuristics (e.g. the RFM quintile path switch) where a count() job
    inside the timed query body would add a full fact scan at exactly the
    scales where the switch matters. Raises on non-local / non-parquet
    layouts and on table directories with subdirectories (_footer_files);
    callers fall back to a Spark count."""
    # mtime in the key: regenerating testdata mid-process must refresh the
    # memoized scalar (same freshness discipline as the persisted layouts'
    # _source_stamp) instead of serving a stale count to plan-selection.
    path = table_path(sf_dir, name)
    key = (sf_dir, name, os.path.getmtime(path))
    if key not in _ROW_COUNT_CACHE:
        import pyarrow.parquet as pq

        _ROW_COUNT_CACHE[key] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in _footer_files(path)
        )
    return _ROW_COUNT_CACHE[key]


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    parallel: bool = False,
    fresh: bool = False,
) -> DataFrame:
    """Load a table. `parallel=True` guarantees the frame has at least the
    cluster's default parallelism in partitions - required for CPU-bound
    per-row pipelines (shingling, hashing, vector math) over small files:
    a few-MB parquet arrives as ONE partition and would otherwise pin the
    whole pipeline to one core. The repartition shuffle is a few MB - noise
    next to the per-row work it parallelizes. At 100 TB inputs are already
    wide and the guard is a no-op.

    INVARIANT: the returned DataFrame is memoized per (sf_dir, name,
    parallel) for the session's lifetime, and the cached plan pins the
    parquet file listing from the first read. Code that REWRITES a table
    at the same path mid-session (fixture regeneration, re-layout tests)
    must pass `fresh=True` (re-reads and refreshes the cache entry) or
    clear `spark._nadb_load_cache`; otherwise it silently sees the stale
    listing or fails on deleted files. Driver testdata is read-only, so
    ordinary queries never need this."""
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
    # Memoize the (lazy, immutable) DataFrame per session: every load pays
    # a driver-side parquet footer read for schema inference plus a file
    # listing - pure fixed overhead when the same table is loaded by dozens
    # of queries in one session (bench/driver/tests). The cache lives ON
    # the session object so a fresh driver session starts clean; conf
    # pinning above stays unconditional.
    cache = getattr(spark, "_nadb_load_cache", None)
    if cache is None:
        cache = {}
        spark._nadb_load_cache = cache  # type: ignore[attr-defined]
    ck = (sf_dir, name, parallel)
    if ck in cache and not fresh:
        return cache[ck]
    df = spark.read.parquet(table_path(sf_dir, name))
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
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
            )
    cache[ck] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (same names as the DuckDB oracle).
    Overwrites same-named temp views - the catalog owns these names."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._nadb_registered_sf_dir = sf_dir  # type: ignore[attr-defined]


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Raw-SQL entry point: every catalog table is available by name, so the
    full engine surface is reachable from plain Spark SQL (Catalyst produces
    the same plans as the DataFrame API). View registration is memoized per
    (session, sf_dir) so repeated queries skip the parquet footer reads."""
    if getattr(spark, "_nadb_registered_sf_dir", None) != sf_dir:
        register_views(spark, sf_dir)
    return spark.sql(query)


_COL_MINMAX_CACHE: dict = {}


def footer_column_minmax(sf_dir: str, name: str, column: str):
    """(min, max) of a column from parquet footer STATISTICS - a driver-side
    metadata read, NO Spark job; the column twin of footer_row_count. For
    anchor/horizon scalars (e.g. MAX(o_orderdate)) that otherwise cost a
    full fact scan inside the timed query body. Raises if any row group
    lacks stats for the column or the table directory has subdirectories
    (callers fall back to a Spark agg). At
    100 TB the same scalars come from the table format's manifest; reading
    per-file footers driver-side is the local-parquet stand-in, memoized
    per (sf_dir, name, column, source mtime) — the mtime component means a
    regenerated table refreshes the anchor/horizon scalar instead of
    serving the previous file's stats (ADVICE r9)."""
    path = table_path(sf_dir, name)
    key = (sf_dir, name, column, os.path.getmtime(path))
    if key not in _COL_MINMAX_CACHE:
        import pyarrow.parquet as pq

        lo = hi = None
        for fpath in _footer_files(path):
            md = pq.ParquetFile(fpath).metadata
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(column)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError(f"row group without {column} stats in {fpath}")
                lo = st.min if lo is None or st.min < lo else lo
                hi = st.max if hi is None or st.max > hi else hi
        if lo is None:
            raise ValueError(f"no row groups in {path}")
        _COL_MINMAX_CACHE[key] = (lo, hi)
    return _COL_MINMAX_CACHE[key]
