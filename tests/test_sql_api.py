"""The raw-SQL entry point: catalog tables usable from plain Spark SQL."""

from __future__ import annotations

import os
import shutil

from nyc_analytics_database_platform_spark.catalog import (
    TABLES,
    load,
    register_views,
    sql,
    table_path,
)


def test_sql_over_catalog_views(spark, sf_dir):
    df = sql(
        spark,
        sf_dir,
        """
        SELECT n.n_name, COUNT(*) AS c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """,
    )
    rows = df.collect()
    assert len(rows) == load(spark, sf_dir, "nation").count()
    assert sum(r["c"] for r in rows) == load(spark, sf_dir, "orders").count()


def test_sql_sees_events_normalization(spark, sf_dir):
    # the view carries the nanos->micros normalized timestamp
    df = sql(spark, sf_dir, "SELECT MIN(ts) AS lo FROM events")
    assert df.collect()[0]["lo"].year == 2024


def test_load_and_sql_follow_rewritten_table(spark, sf_dir, tmp_path):
    """A table directory rewritten at the same path (new part files, as a
    regeneration writes them) is seen by the next load and the next
    catalog.sql: the load memo and the registered view follow the table's
    file stamp instead of a listing of files that no longer exist."""
    import pyarrow.parquet as pq

    copy = str(tmp_path)
    for name in TABLES:
        shutil.copy(table_path(sf_dir, name), table_path(copy, name))
    region = table_path(copy, "region")
    rows = pq.read_table(region)
    os.remove(region)
    os.makedirs(region)
    pq.write_table(rows, os.path.join(region, "part-0.parquet"))
    try:
        query = "SELECT r_name FROM region ORDER BY r_name"
        old = [r.r_name for r in sql(spark, copy, query).collect()]
        assert sorted(r.r_name for r in load(spark, copy, "region").collect()) == old
        shutil.rmtree(region)
        os.makedirs(region)
        pq.write_table(rows.slice(0, 2), os.path.join(region, "part-1.parquet"))
        new = sorted(rows.slice(0, 2).column("r_name").to_pylist())
        assert len(new) < len(old)
        assert sorted(r.r_name for r in load(spark, copy, "region").collect()) == new
        assert [r.r_name for r in sql(spark, copy, query).collect()] == new
    finally:
        register_views(spark, sf_dir)
