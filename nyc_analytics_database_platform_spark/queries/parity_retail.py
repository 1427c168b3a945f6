"""Retail/portfolio analytics operators: RFM segmentation, period-over-period
growth, Gini concentration, the 2-D skyline (Pareto frontier), and
association rules (support/confidence/lift) — the classic merchandising
analyses the reference's dashboard layer (server.py:140-236 summary views,
:411-419 top-K rollups) implies but runs one aggregate at a time.

Numeric discipline: every money input converts to integer cents via the repo
convention ``CAST(ROUND(x * 100) AS BIGINT)`` (Spark ``F.round`` and DuckDB
``ROUND`` agree on half-up for positive doubles); all sums/products stay in
integer/decimal space and only the final reported value divides to DOUBLE,
so both engines emit bit-identical values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark.catalog import (
    footer_column_minmax,
    footer_row_count,
    load,
)
from nyc_analytics_database_platform_spark.operators.prefixsum import (
    exact_ntiles,
)
from nyc_analytics_database_platform_spark.registry import register


def _cents(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


# RFM quintile path switch: below this |orders| (|customers| ~ |orders|/10)
# the single-task NTILE sort beats the scale path's multi-job dispatch
# overhead; above it the window path's single-partition sorts become the
# bottleneck. Round 11 replaced the sampled order-statistic scan with the
# bucketed-histogram form (operators/prefixsum.histogram_exact_ntiles)
# and re-measured the crossover interleaved vs DuckDB: window 1.5s /
# hist 2.9s at sf2 (3M orders), 2.77s / 2.73s at sf4 (6M orders — the
# intersection), 10.4s / 3.8s at sf16 (24M orders, the deepest point:
# 6.34x vs 2.33x against DuckDB). The switch sits at the measured
# intersection.
_RFM_PREFIXSUM_MIN_ORDERS = 5_000_000


_RFM_ORACLE = """
        WITH per_cust AS (
            SELECT o_custkey,
                   DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                             (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
                       AS recency_days,
                   COUNT(*) AS frequency,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS monetary_cents
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
                   NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
                   NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score,
                   frequency, monetary_cents
            FROM per_cust
        )
        SELECT r_score, f_score, m_score,
               COUNT(*) AS n_customers,
               CAST(SUM(monetary_cents) AS DOUBLE) / 100.0 AS monetary_total,
               CAST(SUM(frequency) AS DOUBLE) / COUNT(*) AS avg_frequency
        FROM scored
        GROUP BY r_score, f_score, m_score
        ORDER BY r_score, f_score, m_score
    """


@register(
    "rfm_customer_segments",
    oracle=_RFM_ORACLE,
    tags=("A-ext", "retail"),
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency/Frequency/Monetary quintile
    scores (score 1 = best in each dimension), then the segment-level
    rollup a CRM dashboard reads (counts + totals per RFM cell, <=125 rows).

    Cross-engine determinism: NTILE frames are fully ordered (metric, then
    o_custkey) so bucket assignment is unique; monetary stays integer cents
    until the final report division.

    Scale shape: both quintile paths run over the PER-CUSTOMER aggregate
    (|customers| rows, map-side combined from the fact), never raw orders.
    Two numerically identical physical forms behind a row-count switch
    (the PCA pattern): below _RFM_PREFIXSUM_MIN_ORDERS the textbook
    unpartitioned-NTILE windows run (3 windows over one pass — |customers|
    at bench scales sorts in one task faster than the scale path's job
    dispatch: 1.0s vs 2.3s at sf0.5); above it, ALL THREE exact quintile
    assignments come from the bucketed-histogram order-statistic plan
    (operators/prefixsum.histogram_exact_ntiles, round 11): one narrow
    per-customer parquet materialization, one joint value-histogram job,
    one boundary-sliver job, then tile assignment as 12 comparisons
    riding the final rollup scan. No global window, no full-frame sort
    anywhere; measured at sf16 interleaved dual-pass the ratio drops
    6.34x (window) -> 2.33x vs DuckDB.
    SPARK_GRAFT_RFM_QUINTILE=window|prefixsum forces a path;
    tests/test_round7_ops.py locks the two bit-identical at
    sf0.001+sf0.01, and plan_audit labels the small-scale window
    window(ok) on the strength of that switch."""
    return _rfm_rollup(_rfm_scored(spark, sf_dir))


def _rfm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer scored frame (r/f/m quintiles + frequency +
    monetary_cents): the shared input of the from-scratch rollup and the
    persisted segment table."""
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_dt"),
        F.count("*").alias("frequency"),
        F.sum(_cents("o_totalprice")).alias("monetary_cents"),
    )
    # Anchor from parquet footer stats - a driver-side metadata read
    # replaces a second full orders scan (same switch discipline as the
    # footer_row_count path below).
    _, _max_dt = footer_column_minmax(spark, sf_dir, "orders", "o_orderdate")
    anchor = spark.createDataFrame([(_max_dt and _max_dt.date(),)], "anchor_dt date")
    base = (
        per_cust.crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("anchor_dt", "last_dt"))
    )
    mode = os.environ.get("SPARK_GRAFT_RFM_QUINTILE", "auto").lower()
    if mode == "auto":
        # Footer-metadata row count (no Spark job) — a count() job here
        # would add a full fact scan to the timed query body at exactly the
        # scales where the switch matters.
        n_orders = footer_row_count(spark, sf_dir, "orders")
        mode = (
            "window"
            if n_orders < _RFM_PREFIXSUM_MIN_ORDERS
            else "prefixsum"
        )
    if mode == "window":
        scored = base.select(
            F.ntile(5)
            .over(Window.orderBy("recency_days", "o_custkey"))
            .alias("r_score"),
            F.ntile(5)
            .over(Window.orderBy(F.desc("frequency"), "o_custkey"))
            .alias("f_score"),
            F.ntile(5)
            .over(Window.orderBy(F.desc("monetary_cents"), "o_custkey"))
            .alias("m_score"),
            "frequency",
            "monetary_cents",
        )
    else:
        from nyc_analytics_database_platform_spark import layouts
        from nyc_analytics_database_platform_spark.operators.prefixsum import (
            histogram_exact_ntiles,
        )

        # Round 11 (VERDICT r10 #2): the integer-metric histogram form of
        # the fused scan. Materialize the narrow per-customer frame ONCE
        # as parquet (a per-run scratch, overwritten every execution — the
        # from-scratch query does its work each run; measured cheaper than
        # cache(): 2.2s agg+write + 3 sub-second rescans vs 3.3s columnar
        # cache build at sf16), negate the DESC metrics so every order is
        # ASC, then 3 bounded jobs assign all three exact quintiles.
        # Measured sf16 interleaved dual-pass: 5.72x -> ~2.3x vs DuckDB.
        pc = base.select(
            "o_custkey",
            F.col("recency_days").cast("long").alias("_vr"),
            (-F.col("frequency")).alias("_vf"),
            (-F.col("monetary_cents")).alias("_vm"),
        )
        path = layouts.scratch(sf_dir, "rfm", "percust_run")
        # snappy, not zstd: the scratch is written once and rescanned 3x
        # in the same query, so heavy compression is pure wasted CPU on
        # the critical path (measured ~0.2-1s of the materialize job at
        # sf16, round 12).
        pc.write.mode("overwrite").option("compression", "snappy").parquet(path)
        pc = spark.read.parquet(path)
        scored = histogram_exact_ntiles(
            pc,
            [
                ("r_score", "_vr", 1),
                ("f_score", "_vf", 1),
                ("m_score", "_vm", 4096),
            ],
            tie_col="o_custkey",
        )
        scored = scored.select(
            "r_score",
            "f_score",
            "m_score",
            (-F.col("_vf")).alias("frequency"),
            (-F.col("_vm")).alias("monetary_cents"),
        )
    return scored


def _rfm_rollup(scored: DataFrame) -> DataFrame:
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum("monetary_cents").cast("double") / 100.0).alias(
                "monetary_total"
            ),
            (F.sum("frequency").cast("double") / F.count("*")).alias(
                "avg_frequency"
            ),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "revenue_mom_yoy",
    oracle="""
        WITH monthly AS (
            SELECT DATE_TRUNC('month', o_orderdate) AS m,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
            FROM orders GROUP BY 1
        )
        SELECT STRFTIME(m, '%Y-%m') AS month,
               CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
               CAST(rev_cents AS DOUBLE)
                   / CAST(LAG(rev_cents, 1) OVER (ORDER BY m) AS DOUBLE)
                   AS mom_ratio,
               CAST(rev_cents - LAG(rev_cents, 1) OVER (ORDER BY m) AS DOUBLE)
                   / 100.0 AS mom_delta,
               CAST(rev_cents AS DOUBLE)
                   / CAST(LAG(rev_cents, 12) OVER (ORDER BY m) AS DOUBLE)
                   AS yoy_ratio
        FROM monthly
        ORDER BY month
    """,
    tags=("A-ext", "timeseries", "retail"),
)
def revenue_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year growth: monthly revenue with
    LAG(1)/LAG(12) ratios and absolute deltas — the period-comparison read
    behind the reference's trends view (server.py:319-342) expressed as one
    windowed pass instead of two aligned queries.

    Ratios divide two exact integer-cents values, so the doubles are
    bit-identical across engines with no rounding step. NULL for the months
    with no prior period (first month / first year) in both engines.

    Scale shape: the window input is the MONTHLY aggregate (bounded by
    calendar span, ~80 rows here), produced by one map-side-combinable
    groupBy over the fact — the unpartitioned LAG window is O(months)."""
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.sum(_cents("o_totalprice")).alias("rev_cents"))
    )
    w = Window.orderBy("m")
    return (
        monthly.select(
            F.date_format("m", "yyyy-MM").alias("month"),
            (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
            (
                F.col("rev_cents").cast("double")
                / F.lag("rev_cents", 1).over(w).cast("double")
            ).alias("mom_ratio"),
            (
                (F.col("rev_cents") - F.lag("rev_cents", 1).over(w)).cast(
                    "double"
                )
                / 100.0
            ).alias("mom_delta"),
            (
                F.col("rev_cents").cast("double")
                / F.lag("rev_cents", 12).over(w).cast("double")
            ).alias("yoy_ratio"),
        )
    ).orderBy("month")


@register(
    "gini_revenue_concentration",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT c.c_nationkey AS nk, rev_cents,
                   ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
                                      ORDER BY rev_cents, o_custkey) AS i
            FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
        ),
        stats AS (
            SELECT nk, COUNT(*) AS n_customers,
                   SUM(CAST(i AS DECIMAL(38,0)) * rev_cents) AS iw,
                   SUM(CAST(rev_cents AS DECIMAL(38,0))) AS tot
            FROM ranked GROUP BY nk
        )
        SELECT n.n_name, s.n_customers,
               CASE WHEN s.tot = 0 THEN 0.0
                    ELSE CAST(2 * s.iw - (s.n_customers + 1) * s.tot AS DOUBLE)
                         / CAST(s.n_customers * s.tot AS DOUBLE)
               END AS gini
        FROM stats s JOIN nation n ON s.nk = n.n_nationkey
        ORDER BY n.n_name
    """,
    tags=("A-ext", "stats", "retail"),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per nation — the inequality
    measure behind 'how concentrated is our revenue' (companion to
    revenue_pareto_by_customer_decile, which reads the same question as a
    decile table). Rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    with x ascending and a deterministic (rev, custkey) rank tie-break.

    Numerics: revenues are integer cents; the rank-weighted sums accumulate
    as DECIMAL(38,0) (exact, order-independent, overflow-safe at 100 TB where
    i*x_i can pass 2^63); only the final ratio divides to DOUBLE.

    Scale shape: fact collapses to per-customer cents (map-side combine),
    the rank window partitions by nation (bounded partitions after the
    collapse), and the nation dim joins broadcast."""
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("rev_cents"))
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ranked = (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("c_nationkey").orderBy(
                    "rev_cents", "o_custkey"
                )
            ),
        )
    )
    stats = ranked.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("rev_cents")).alias("iw"),
        F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("tot"),
    )
    nation = load(spark, sf_dir, "nation")
    return (
        stats.join(
            F.broadcast(nation), stats.nk == nation.n_nationkey
        )
        .select(
            "n_name",
            "n_customers",
            F.when(F.col("tot") == 0, F.lit(0.0))
            .otherwise(
                (
                    2 * F.col("iw") - (F.col("n_customers") + 1) * F.col("tot")
                ).cast("double")
                / (F.col("n_customers") * F.col("tot")).cast("double")
            )
            .alias("gini"),
        )
        .orderBy("n_name")
    )


@register(
    "pareto_frontier_parts",
    oracle="""
        WITH priced AS (
            SELECT p_partkey, p_name, p_retailprice, p_size,
                   CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c
            FROM part
        ),
        per_price AS (
            SELECT price_c, MAX(p_size) AS best_size
            FROM priced GROUP BY price_c
        ),
        frontier AS (
            SELECT price_c, best_size
            FROM (
                SELECT price_c, best_size,
                       MAX(best_size) OVER (
                           ORDER BY price_c
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS m1
                FROM per_price
            )
            WHERE m1 IS NULL OR best_size > m1
        )
        SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
        FROM priced p JOIN frontier f
          ON p.price_c = f.price_c AND p.p_size = f.best_size
        ORDER BY p.price_c, p.p_partkey
    """,
    tags=("A-ext", "skyline", "retail"),
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize p_retailprice, maximize p_size) — no other part is at most as
    expensive AND at least as large with strict improvement in one. The
    skyline operator the reference's comparison views would need for
    'best value' shortlists; no SQL engine ships it natively.

    Plan (dominance-pruned, never all-pairs): (1) collapse to one row per
    distinct price with its max size — map-side-combinable groupBy that
    bounds everything after it by |distinct prices|, not |parts|;
    (2) one running-max window over the distinct prices (RANGE ... 1
    PRECEDING gives the strictly-cheaper max, so equal-price rows never
    shadow each other); (3) broadcast the tiny frontier pair-set back onto
    the part scan to recover all tied frontier rows. At 100 TB the window
    input is the distinct-price set (bounded domain); everything wide is a
    hash aggregate or a broadcast join."""
    priced = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        "p_size",
        _cents("p_retailprice").alias("price_c"),
    )
    per_price = priced.groupBy("price_c").agg(
        F.max("p_size").alias("best_size")
    )
    w = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    frontier = (
        per_price.withColumn("m1", F.max("best_size").over(w))
        .filter(F.col("m1").isNull() | (F.col("best_size") > F.col("m1")))
        .select("price_c", "best_size")
    )
    frontier = frontier.withColumnRenamed("best_size", "p_size")
    return (
        priced.join(F.broadcast(frontier), ["price_c", "p_size"])
        .select("p_partkey", "p_name", "p_retailprice", "p_size", "price_c")
        .orderBy("price_c", "p_partkey")
        .drop("price_c")
    )


@register(
    "assoc_rules_brand_lift",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        totals AS (
            SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM baskets
        ),
        brand_n AS (
            SELECT p_brand, COUNT(*) AS n FROM baskets GROUP BY p_brand
        ),
        pair_n AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   COUNT(*) AS n_ab
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY a.p_brand, b.p_brand
        )
        SELECT brand_a, brand_b, n_ab,
               CAST(n_ab AS DOUBLE) / t.n_baskets AS support,
               CAST(n_ab AS DOUBLE) / na.n AS conf_a_to_b,
               CAST(n_ab AS DOUBLE) / nb.n AS conf_b_to_a,
               CAST(n_ab * t.n_baskets AS DOUBLE)
                   / CAST(na.n * nb.n AS DOUBLE) AS lift
        FROM pair_n
        JOIN brand_n na ON pair_n.brand_a = na.p_brand
        JOIN brand_n nb ON pair_n.brand_b = nb.p_brand
        CROSS JOIN totals t
        ORDER BY lift DESC, brand_a, brand_b
        LIMIT 20
    """,
    tags=("A-ext", "retail"),
)
def assoc_rules_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets at brand granularity:
    support / confidence (both directions) / lift for brand pairs, top-20 by
    lift — the market-basket companion to market_basket_part_pairs_top20,
    which stops at raw pair counts.

    Metrics are ratios of exact integers (pair count, brand counts, basket
    total), and lift multiplies integers BEFORE the single double division
    (n_ab * N / (n_a * n_b)), so every reported double is bit-identical
    across engines.

    Scale shape: baskets dedupe to (order, brand) — bounded by |orders| x
    |brands| (25 brands) — then the pair self-join shuffles on l_orderkey
    once with per-order fan-out <= C(25,2); brand totals are a 25-row
    broadcast. Never all-pairs over parts or line items."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    totals = baskets.agg(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    brand_n = baskets.groupBy("p_brand").agg(F.count("*").alias("n"))
    a = baskets.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_a")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_b")
    )
    pair_n = (
        a.join(b, "k")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_ab"))
    )
    na = brand_n.select(
        F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b")
    )
    return (
        pair_n.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n_baskets")).alias(
                "support"
            ),
            (F.col("n_ab").cast("double") / F.col("n_a")).alias("conf_a_to_b"),
            (F.col("n_ab").cast("double") / F.col("n_b")).alias("conf_b_to_a"),
            (
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(20)
    )


@register(
    "retail_kpi_report",
    oracle="""
        WITH monthly AS (
            SELECT DATE_TRUNC('month', o_orderdate) AS m,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
            FROM orders GROUP BY 1
        ),
        cum AS (
            SELECT m, rev_cents,
                   SUM(rev_cents) OVER w AS cum_cents,
                   LAG(rev_cents, 12) OVER (ORDER BY m) AS yoy_prev
            FROM monthly
            WINDOW w AS (ORDER BY m
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        curve AS (
            SELECT m, rev_cents, cum_cents, yoy_prev,
                   MAX(cum_cents) OVER (ORDER BY m
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS peak_cents
            FROM cum
        ),
        latest AS (
            SELECT STRFTIME(m, '%Y-%m') AS latest_month,
                   CAST(rev_cents AS DOUBLE) / CAST(yoy_prev AS DOUBLE)
                       AS yoy_latest
            FROM curve ORDER BY m DESC LIMIT 1
        ),
        dd AS (
            SELECT CAST(MAX(peak_cents - cum_cents) AS DOUBLE) / 100.0
                       AS max_drawdown
            FROM curve
        ),
        per_cust AS (
            SELECT o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rc
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT rc, ROW_NUMBER() OVER (ORDER BY rc, o_custkey) AS i
            FROM per_cust
        ),
        gini AS (
            SELECT CAST(2 * SUM(CAST(i AS DECIMAL(38,0)) * rc)
                        - (COUNT(*) + 1) * SUM(CAST(rc AS DECIMAL(38,0)))
                        AS DOUBLE)
                   / CAST(COUNT(*) * SUM(CAST(rc AS DECIMAL(38,0)))
                          AS DOUBLE) AS gini_overall
            FROM ranked
        ),
        totals AS (
            SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS total_revenue,
                   COUNT(*) AS n_orders
            FROM orders
        ),
        months AS (SELECT COUNT(*) AS n_months FROM monthly)
        SELECT t.total_revenue, t.n_orders, mo.n_months,
               l.latest_month, l.yoy_latest,
               d.max_drawdown, g.gini_overall
        FROM totals t
        CROSS JOIN months mo CROSS JOIN latest l
        CROSS JOIN dd d CROSS JOIN gini g
    """,
    tags=("C-ext", "retail", "composite"),
)
def retail_kpi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row retail KPI capstone composing the round-6 operators the way
    the reference's dashboard issues N separate queries (server.py:140-236):
    exact total revenue and order count, calendar depth, the latest month's
    YoY ratio, the max drawdown of the cumulative revenue curve, and the
    overall customer-revenue Gini — one composed plan instead of five
    round-trips, every number from an already-attested operator family
    (revenue_mom_yoy, monthly_revenue_max_drawdown,
    gini_revenue_concentration).

    Scale shape: two map-side-combinable passes over orders (monthly
    aggregate; per-customer aggregate), calendar-bounded windows, one
    |customers|-ranked window, and 1-row cross joins for assembly. All
    money stays integer cents; Gini sums are DECIMAL(38,0)."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(_cents("o_totalprice")).alias("rev_cents"))
    w_cum = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        monthly.withColumn("cum_cents", F.sum("rev_cents").over(w_cum))
        .withColumn("peak_cents", F.max("cum_cents").over(w_cum))
        .withColumn("yoy_prev", F.lag("rev_cents", 12).over(Window.orderBy("m")))
    )
    latest = (
        curve.orderBy(F.desc("m"))
        .limit(1)
        .select(
            F.date_format("m", "yyyy-MM").alias("latest_month"),
            (
                F.col("rev_cents").cast("double")
                / F.col("yoy_prev").cast("double")
            ).alias("yoy_latest"),
        )
    )
    dd = curve.agg(
        (
            F.max(F.col("peak_cents") - F.col("cum_cents")).cast("double")
            / 100.0
        ).alias("max_drawdown")
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("rc")
    )
    ranked = per_cust.select(
        "rc",
        F.row_number().over(Window.orderBy("rc", "o_custkey")).alias("i"),
    )
    gini = ranked.agg(
        (
            (
                2 * F.sum(F.col("i").cast("decimal(38,0)") * F.col("rc"))
                - (F.count("*") + 1)
                * F.sum(F.col("rc").cast("decimal(38,0)"))
            ).cast("double")
            / (
                F.count("*") * F.sum(F.col("rc").cast("decimal(38,0)"))
            ).cast("double")
        ).alias("gini_overall")
    )
    totals = orders.agg(
        (F.sum(_cents("o_totalprice")).cast("double") / 100.0).alias(
            "total_revenue"
        ),
        F.count("*").alias("n_orders"),
    )
    months = monthly.agg(F.count("*").alias("n_months"))
    return (
        totals.crossJoin(F.broadcast(months))
        .crossJoin(F.broadcast(latest))
        .crossJoin(F.broadcast(dd))
        .crossJoin(F.broadcast(gini))
        .select(
            "total_revenue",
            "n_orders",
            "n_months",
            "latest_month",
            "yoy_latest",
            "max_drawdown",
            "gini_overall",
        )
    )


_MIGRATION_SPLIT = "1998-05-01"


@register(
    "customer_segment_migration",
    oracle=f"""
        WITH h1 AS (
            SELECT o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate < TIMESTAMP '{_MIGRATION_SPLIT}'
            GROUP BY o_custkey
        ),
        h2 AS (
            SELECT o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate >= TIMESTAMP '{_MIGRATION_SPLIT}'
            GROUP BY o_custkey
        ),
        both_active AS (
            SELECT h1.o_custkey, h1.cents AS c1, h2.cents AS c2
            FROM h1 JOIN h2 ON h1.o_custkey = h2.o_custkey
        ),
        scored AS (
            SELECT NTILE(5) OVER (ORDER BY c1 DESC, o_custkey) AS h1_score,
                   NTILE(5) OVER (ORDER BY c2 DESC, o_custkey) AS h2_score,
                   c1, c2
            FROM both_active
        )
        SELECT h1_score, h2_score,
               COUNT(*) AS n_customers,
               CAST(SUM(c2 - c1) AS DOUBLE) / 100.0 AS net_spend_change
        FROM scored
        GROUP BY h1_score, h2_score
        ORDER BY h1_score, h2_score
    """,
    tags=("A-ext", "retail"),
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment migration matrix: monetary quintile in the first half of the
    history vs the second half (customers active in both), with net spend
    change per cell — the churn/upgrade flow view a static RFM snapshot
    (rfm_customer_segments) cannot show. Quintiles are scored WITHIN each
    period over the both-active population, so the matrix diagonal is
    'kept their tier' by construction.

    Determinism: period spends are integer cents, NTILE frames fully
    ordered with the o_custkey tie-break, net change sums integers.

    Scale shape: two filtered map-side-combinable aggregates over the fact
    (predicate pushdown splits the scan), one join on the customer key,
    then ONE fused two-phase order-statistic scan for both quintile
    assignments (operators/prefixsum.exact_ntiles - no single-partition
    NTILE sort, no global window at all), <=25-row rollup."""
    orders = load(spark, sf_dir, "orders")
    split = F.lit(_MIGRATION_SPLIT).cast("timestamp")
    h1 = (
        orders.filter(F.col("o_orderdate") < split)
        .groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("c1"))
    )
    h2 = (
        orders.filter(F.col("o_orderdate") >= split)
        .groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("c2"))
    )
    both = h1.join(h2, "o_custkey")
    scored, _n = exact_ntiles(
        both,
        [
            ("h1_score", [("c1", True), ("o_custkey", False)]),
            ("h2_score", [("c2", True), ("o_custkey", False)]),
        ],
    )
    scored = scored.select("h1_score", "h2_score", "c1", "c2")
    return (
        scored.groupBy("h1_score", "h2_score")
        .agg(
            F.count("*").alias("n_customers"),
            (
                F.sum(F.col("c2") - F.col("c1")).cast("double") / 100.0
            ).alias("net_spend_change"),
        )
        .orderBy("h1_score", "h2_score")
    )


def build_rfm_segment_table(spark: SparkSession, sf_dir: str) -> str:
    """Persist the per-customer RFM segment table (r/f/m quintile scores +
    frequency + monetary cents) - the CRM segment table every dashboard
    reads, maintained per source snapshot instead of re-scored per query.
    Freshness-stamped like every persisted layout (layouts module)."""
    from nyc_analytics_database_platform_spark import layouts

    path = layouts.scratch(sf_dir, "scalejoin", "rfm_segment_table")
    marker = path + "_done"
    stamp = layouts.source_stamp(sf_dir, "orders")
    if not layouts.is_fresh(marker, stamp, data_dirs=(path,)):
        _rfm_scored(spark, sf_dir).write.mode("overwrite").parquet(path)
        layouts.mark_fresh(marker, stamp)
    return path


@register(
    "rfm_segments_persisted",
    # identical full-recompute oracle: the persisted segment table changes
    # no bytes of the answer, only where the serve-time plan starts
    oracle=_RFM_ORACLE,
    tags=("A-ext", "retail", "lifecycle", "layout", "warehouse"),
)
def rfm_segments_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rfm_customer_segments served from the PERSISTED per-customer
    segment table (VERDICT r9 #4): scoring (the fact collapse + three
    exact-quintile assignments) runs once per source snapshot at build
    time; the serve-time plan is one narrow scan + a <=125-cell rollup.
    Note the ask's CLUSTERED BY custkey layout cannot make the NTILEs
    exchange-free - quintiles are a GLOBAL metric order, not custkey-local
    - so the persisted artifact is the scored table itself, the shape a
    CRM actually maintains (and the build path is the windowless
    exact_ntiles scan, so even the build has no global sort)."""
    scored = spark.read.parquet(build_rfm_segment_table(spark, sf_dir))
    return _rfm_rollup(scored)
