"""SparkSession factory tuned for this engine.

Local mode is the test bed; the conf is written so the same code scales to a
multi-executor cluster: AQE handles runtime coalescing and skew joins, the
broadcast threshold covers the dimension tables, and timestamps are pinned to
UTC so results are environment-independent (required for the DuckDB oracle
comparison, which uses naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 16g: local mode runs
    every task inside the driver JVM, and a heap sized past RAM (no swap)
    gets the process killed rather than collected."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2 // 2**30))}g"


def get_spark(app_name: str = "nyc-analytics-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{int(env)}]" if env else "local[*]"
    else:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle partitions sized to local cores; on a real cluster this is
        # overridden (AQE coalesces down from a larger initial number).
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter join pruning: on a selective fact-fact join the
        # build side's keys are bloom-compacted and pushed into the probe
        # side's SCAN (the 100 TB analogue of the hand-written semi-join
        # reductions in the query layer). Creation threshold lowered so the
        # optimization is exercised at bench SFs, not just in production.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64m")
        # Dimension tables (region/nation/customer/supplier/part at small SF)
        # stay under this; fact-fact joins exceed it and go sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and normalize in catalog.load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Testdata timestamps are naive parquet TIMESTAMP(MICROS)
        # (isAdjustedToUTC=false); read them as session-TZ LTZ (session TZ is
        # pinned UTC below) instead of TIMESTAMP_NTZ so timestamp functions
        # (unix_micros, window, watermarks) apply uniformly and rendering
        # matches the DuckDB oracle's naive timestamps.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Bucketed scans report their SORTED BY order (only when each bucket
        # is a single file, which operators/bucketed.py guarantees by
        # repartitioning on the bucket key before the write). This is what
        # lets windows/joins over a bucketed+sorted layout plan with zero
        # Exchange AND zero Sort nodes; off by default only because generic
        # writers can produce multi-file buckets.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
