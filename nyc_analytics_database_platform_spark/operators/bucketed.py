"""Generic bucketed+sorted table lifecycle: adopt-or-build a persisted
parquet layout keyed for a family of downstream plans.

The reference recomputes every rollup from un-layouted heap tables per
request (reference: webserver/server.py:186-206); PostgreSQL's planner
re-sorts / re-hashes on every query. At 100 TB the winning pattern is the
opposite: pay ONE clustered write per source snapshot, then every
key-partitioned window, aggregation, and join on that key runs
exchange-free forever after. `queries/parity_scalejoin.build_bucketed_pair`
introduced the lifecycle for one join pair; this module is the general
form used by the stateful-lifecycle family (SCD2 point-in-time,
sessionization), where the plans need not just co-partitioning but
co-ORDERING (window sort elimination).

Two mechanical details make sort elimination real, not aspirational:

1. **One file per bucket.** The writer task layout must guarantee each
   bucket's rows land in a single file, or the scan cannot report
   per-bucket sortedness (rows from two sorted files interleave
   arbitrarily). `repartition(n_buckets, key)` uses the same
   murmur3-pmod placement as the bucket spec, so task i receives exactly
   bucket i and writes exactly one file.
2. **`spark.sql.legacy.bucketedTableScan.outputOrdering=true`**
   (set in session.py): Spark only *reports* the SORTED BY order from a
   bucketed scan under this flag, and only when condition (1) holds -
   with it, a Window/SortMergeJoin whose requirement is a prefix of the
   layout order plans with ZERO Exchange and ZERO Sort nodes.

At 100 TB "one file per bucket" means bucket count scales with data
(size buckets to the ~1 GB file target, e.g. 100k buckets for 100 TB),
which is exactly how Hive/Iceberg bucket specs are sized in production.

Freshness: layouts carry layouts.source_stamp (the source files' names,
mtimes and sizes) - regenerated inputs force a rewrite, never a stale
serve. A fresh session adopts existing files with CREATE TABLE ...
CLUSTERED BY DDL: the catalog entry, not the data, carries the bucket
spec, so adoption moves zero bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark import layouts
from nyc_analytics_database_platform_spark.catalog import load

_N_BUCKETS = 16


def bucketed_sorted_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    sort_cols: tuple[str, ...],
    cols: tuple[str, ...] | None = None,
    n_buckets: int = _N_BUCKETS,
    alias: str | None = None,
) -> DataFrame:
    """Return `table` re-laid-out as a bucketed (on `key`) and per-bucket
    sorted (by `sort_cols`, which must start with `key`) external parquet
    table, building it on first use and adopting the existing files on
    every later session. `cols` prunes the layout to the columns the
    consuming family needs (narrower shuffle-free scans downstream)."""
    name = alias or f"{table}_{key}"
    tbl = f"bkt_{name}_{layouts.tag(sf_dir)}"
    base = layouts.scratch(sf_dir, "bucketed", name)
    path = os.path.join(base, "data")
    done = os.path.join(base, "_layout_done")
    spec = f"key={key}|sort={','.join(sort_cols)}|n={n_buckets}|cols={','.join(cols or ())}"
    stamp = layouts.source_stamp(sf_dir, table, spec=spec)

    src = load(spark, sf_dir, table)
    if cols:
        src = src.select(*cols)

    # data_dirs guard: a tmp cleaner that removes the parquet files but
    # leaves the marker must force a rebuild, never an empty adopt
    # (ADVICE r9; the check lives in layouts.is_fresh).
    if not layouts.is_fresh(done, stamp, data_dirs=(path,)):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            src.repartition(n_buckets, F.col(key))
            .write.format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(*sort_cols)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        layouts.mark_fresh(done, stamp)
    elif tbl not in {t.name for t in spark.catalog.listTables()}:
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
        )
        spark.sql(
            f"""CREATE TABLE IF NOT EXISTS {tbl} ({ddl})
                USING parquet CLUSTERED BY ({key})
                SORTED BY ({', '.join(sort_cols)})
                INTO {n_buckets} BUCKETS LOCATION '{path}'"""
        )
    return spark.table(tbl)
