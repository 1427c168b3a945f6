"""Raw-SQL surface attestation: queries submitted as SQL text through
`catalog.sql` (temp views over the catalog tables), not the DataFrame API.

The reference engine is SQL-driven end to end (every route handler in
server.py is a SQL string against PostgreSQL), so a reference user's first
contact with this engine is `sql(spark, sf_dir, "SELECT ...")`. Catalyst
compiles SQL text and DataFrame plans to the same logical algebra - these
queries attest that the SQL path gets the same optimizations (broadcast
joins, pushdown, decorrelated EXISTS) and the same exact numerics as the
DataFrame queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nyc_analytics_database_platform_spark.catalog import sql
from nyc_analytics_database_platform_spark.registry import register

# exact-revenue convention (see functions/numeric.py and tpch_q1): prices and
# discounts are 2dp by construction -> cents/percent integer arithmetic is
# exact; never decimal-cast a double product (engine rounding modes differ).
_REVENUE = """CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                AS DECIMAL(38,0))) AS DOUBLE) / 1e4"""


@register(
    "sql_revenue_by_region",
    oracle=f"""
        SELECT r.r_name AS region,
               {_REVENUE} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY r.r_name
        ORDER BY revenue DESC, region
    """,
    tags=("sql-surface", "J1", "A3"),
)
def sql_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape submitted as SQL text: fact->orders->customer->
    nation->region with a one-year date band, discounted revenue by region.
    The BROADCAST hint pins the two bounded dims exactly as the DataFrame
    queries do with F.broadcast; the date filter pushes down to the orders
    scan from SQL just as from the API."""
    return sql(
        spark,
        sf_dir,
        f"""
        SELECT /*+ BROADCAST(n), BROADCAST(r) */
               r.r_name AS region,
               {_REVENUE} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY r.r_name
        ORDER BY revenue DESC, region
        """,
    )


@register(
    "sql_late_shipping_priority",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-07-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    tags=("sql-surface", "tpch", "J-ext"),
)
def sql_late_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape via the SQL surface: correlated EXISTS (orders with at
    least one line item shipped >60 days after ordering) counted by
    priority. Catalyst decorrelates the EXISTS into a left-semi hash join on
    l_orderkey - the same plan the DataFrame semi-join queries produce - so
    the subquery never executes per row."""
    return sql(
        spark,
        sf_dir,
        """
        SELECT o.o_orderpriority,
               COUNT(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-07-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """,
    )


_GROUP_BY_ALL_SQL = f"""
    SELECT o_orderstatus,
           o_orderpriority,
           {_REVENUE.replace("l_extendedprice", "o_totalprice").replace("l_discount", "0.0")} AS gross,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ALL
    ORDER BY o_orderstatus, o_orderpriority
"""


@register(
    "sql_group_by_all_status_priority",
    oracle="""
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(0.0 * 100) AS BIGINT))
                   AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS gross,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority
    """,
    tags=("sql-surface", "modern-sql", "A3"),
)
def sql_group_by_all_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (modern-SQL shorthand: every non-aggregate select item
    becomes a grouping key) - same text in both engines; the exact-cents
    revenue convention keeps the double sum bit-identical."""
    return sql(spark, sf_dir, _GROUP_BY_ALL_SQL)


@register(
    "sql_bool_aggs_per_nation",
    oracle="""
        SELECT c_nationkey,
               BOOL_AND(c_acctbal > 0) AS all_positive,
               BOOL_OR(c_acctbal > 9000) AS any_rich,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM customer
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    tags=("sql-surface", "A-ext"),
)
def sql_bool_aggs_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface (bool_and / bool_or - Spark's every/some
    family): per-nation account-balance invariants. Both are single-pass,
    map-side-combinable aggregates."""
    return sql(
        spark,
        sf_dir,
        """
        SELECT c_nationkey,
               bool_and(c_acctbal > 0) AS all_positive,
               bool_or(c_acctbal > 9000) AS any_rich,
               COUNT(*) AS n_customers
        FROM customer
        GROUP BY c_nationkey
        ORDER BY c_nationkey
        """,
    )


@register(
    "sql_pivot_status_counts",
    oracle="""
        SELECT o_orderpriority,
               CAST(COALESCE("F", 0) AS BIGINT) AS f_cnt,
               CAST(COALESCE("O", 0) AS BIGINT) AS o_cnt,
               CAST(COALESCE("P", 0) AS BIGINT) AS p_cnt
        FROM (PIVOT (SELECT o_orderpriority, o_orderstatus FROM orders)
              ON o_orderstatus USING COUNT(*))
        ORDER BY o_orderpriority
    """,
    tags=("sql-surface", "pivot", "reshape"),
)
def sql_pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text PIVOT (the DataFrame twin is pivot_status_by_nation): order
    counts per priority spread across status columns. The two engines spell
    PIVOT differently (Spark: PIVOT (agg FOR col IN (...)); DuckDB: PIVOT
    ... ON col USING agg), so this attests the semantic, not the text - the
    aligned aliases and zero-fill make the frames identical. Catalyst
    compiles PIVOT to the same conditional-aggregate plan as the
    F.when()-based queries: one pass, no reshape shuffle beyond the
    grouping exchange."""
    return sql(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority,
               coalesce(F, 0) AS f_cnt,
               coalesce(O, 0) AS o_cnt,
               coalesce(P, 0) AS p_cnt
        FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
        PIVOT (COUNT(*) FOR o_orderstatus IN ('F' AS F, 'O' AS O, 'P' AS P))
        ORDER BY o_orderpriority
        """,
    )


@register(
    "sql_parameterized_nation_orders",
    oracle="""
        SELECT o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3' AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        GROUP BY o.o_orderpriority
        ORDER BY priority
    """,
    tags=("sql-surface", "spark4"),
)
def sql_parameterized_nation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 parameterized SQL (named-marker binding, the
    injection-safe surface the reference's request handlers needed but
    built with string formatting - server.py's f-string WHERE clauses):
    the :nation and :start markers bind server-side, so the same compiled
    text serves any parameter set and user input never concatenates into
    SQL. Catalyst folds the bound literals into the scan filters exactly
    as if they were inline."""
    return sql(
        spark,
        sf_dir,
        """
        SELECT o.o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name = :nation AND o.o_orderdate >= :start
        GROUP BY o.o_orderpriority
        ORDER BY priority
        """,
        args={"nation": "NATION_3", "start": "1997-01-01 00:00:00"},
    )


@register(
    "sql_identifier_clause_counts",
    oracle="""
        SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n FROM orders
        UNION ALL
        SELECT 'lineitem' AS tbl, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem
        ORDER BY tbl
    """,
    tags=("sql-surface", "spark4"),
)
def sql_identifier_clause_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 IDENTIFIER() clause: table names bound as parameters instead
    of string-spliced SQL - the second half of the injection-safe surface
    (sql_parameterized_nation_orders binds values; this binds IDENTIFIERS,
    which value parameters cannot). The reference interpolates table names
    directly into query strings (server.py's f-string FROM clauses); this
    is the engine-level fix."""
    frames = [
        sql(
            spark,
            sf_dir,
            "SELECT :label AS tbl, COUNT(*) AS n FROM IDENTIFIER(:tbl)",
            args={"label": t, "tbl": t},
        )
        for t in ("orders", "lineitem")
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("tbl")
