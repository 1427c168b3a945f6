"""Lifecycle / warehouse-maintenance parity queries: batch sessionization,
SCD2 dimension build, and incremental aggregate maintenance.

These extend the reference's current-state-only data model (reference:
webserver/schema.sql:1-24 keeps one row per property; server.py recomputes
every rollup from scratch per request) with the three operators a maintained
100 TB warehouse actually runs: assign events to sessions, track attribute
history as validity intervals, and refresh rollups from deltas without
re-scanning history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark import layouts
from nyc_analytics_database_platform_spark.catalog import load
from nyc_analytics_database_platform_spark.functions.numeric import ORACLE_SUM, exact_sum
from nyc_analytics_database_platform_spark.operators.incremental import (
    merge_partials,
    partial_agg,
    present,
)
from nyc_analytics_database_platform_spark.operators.bucketed import (
    bucketed_sorted_table,
)
from nyc_analytics_database_platform_spark.operators.maintenance import (
    merge_session_tables,
    scd2_apply_changes,
)
from nyc_analytics_database_platform_spark.operators.scd import scd2_intervals
from nyc_analytics_database_platform_spark.functions.zorder import zvalue, zvalue_oracle_sql
from nyc_analytics_database_platform_spark.operators.sessions import sessionize
from nyc_analytics_database_platform_spark.registry import register


@register(
    "sessionize_event_stats",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
            FROM events
        ),
        flags AS (
            SELECT *,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w >= 300000000
                        THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        sess AS (
            SELECT *,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flags
        )
        SELECT user_id,
               CAST(session_seq AS BIGINT) AS session_seq,
               MIN(us) AS session_start_us,
               MAX(us) AS session_end_us,
               COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_event_types,
               {ORACLE_SUM.format(col="value")} AS total_value
        FROM sess
        GROUP BY user_id, session_seq
    """,
    tags=("session", "window", "training-data"),
    bench=True,
)
def sessionize_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session assignment (operators/sessions.sessionize, 5-minute
    gap) rolled up to per-session stats. Unlike stream_session_windows (the
    session_window AGGREGATE), the operator under test tags every row, which
    is what session-document assembly needs; the rollup here just makes the
    assignment oracle-checkable. Same >= gap-close convention as Spark's
    session_window.

    No final ORDER BY (round 9): the result is ~input-cardinality, the
    driver compare is order-insensitive, and at 100 TB a per-session table
    is written partitioned, never globally sorted - the global sort was
    0.66s of pure presentation cost at sf2.0. Benched via the distributed
    parquet sink (vs DuckDB COPY) for the same reason: collect-mode timing
    measures Python object materialization, not the engine (SCALE.md)."""
    events = load(spark, sf_dir, "events")
    sess = sessionize(events, "user_id", "ts", gap_seconds=300, order_cols=("event_id",))
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("session_end_us"),
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
            exact_sum("value").alias("total_value"),
        )
    )


@register(
    "scd2_customer_status_history",
    oracle="""
        WITH ordered AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ),
        ch AS (
            SELECT * FROM ordered
            WHERE prev_status IS NULL OR o_orderstatus <> prev_status
        ),
        iv AS (
            SELECT o_custkey, o_orderstatus,
                   o_orderdate AS vf,
                   lead(o_orderdate) OVER w2 AS vt,
                   CAST(ROW_NUMBER() OVER w2 AS INT) AS version
            FROM ch
            WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        )
        SELECT o_custkey AS custkey,
               o_orderstatus AS status,
               strftime(vf, '%Y-%m-%d') AS valid_from,
               strftime(vt, '%Y-%m-%d') AS valid_to,
               version,
               (vt IS NULL) AS is_current
        FROM iv
        ORDER BY custkey, version
    """,
    tags=("scd2", "window", "warehouse"),
)
def scd2_customer_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 build over the orders log: runs of equal o_orderstatus per
    customer become validity intervals (operators/scd.scd2_intervals). The
    reference keeps only current state (schema.sql:1-24); this is the
    history-preserving dimension a warehouse derives from the same log."""
    orders = load(spark, sf_dir, "orders")
    scd = scd2_intervals(
        orders,
        key_col="o_custkey",
        ts_col="o_orderdate",
        attr_cols=("o_orderstatus",),
        order_cols=("o_orderkey",),
    )
    return scd.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "version",
        "is_current",
    ).orderBy("custkey", "version")


@register(
    "incremental_monthly_revenue",
    oracle=f"""
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               COUNT(*) AS n,
               {ORACLE_SUM.format(col="o_totalprice")} AS total,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean,
               MIN(o_totalprice) AS min_v,
               MAX(o_totalprice) AS max_v
        FROM orders
        GROUP BY 1
        ORDER BY month
    """,
    tags=("incremental", "materialized-view", "warehouse"),
)
def incremental_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: history (orders before 1997-01-01) and
    delta (the rest) are aggregated SEPARATELY into mergeable form and merged
    (operators/incremental.py) — the oracle recomputes from scratch, so a
    hash match proves the merge is exact, decimals included. At 100 TB the
    merged path reads only the delta partition + the stored aggregate; the
    oracle's path (full re-scan) is what it replaces."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "month", F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    history = orders.filter(F.col("o_orderdate") < cutoff)
    delta = orders.filter(F.col("o_orderdate") >= cutoff)
    merged = merge_partials(
        [partial_agg(history, ["month"], "o_totalprice"),
         partial_agg(delta, ["month"], "o_totalprice")],
        ["month"],
    )
    return present(merged).orderBy("month")


@register(
    "snapshot_diff_orders",
    oracle="""
        WITH new_snap AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0
                        ELSE o_totalprice END AS o_totalprice
            FROM orders
            WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT o_orderkey + 20000000, o_totalprice
            FROM orders WHERE o_orderkey % 11 = 0
        )
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
               END AS change_type
        FROM orders o
        FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
        WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
               OR o.o_totalprice <> n.o_totalprice)
        ORDER BY orderkey
    """,
    tags=("diff", "warehouse", "cdc"),
    bench=True,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot regression diff (operators/diff.snapshot_diff): the 'next
    snapshot' is derived deterministically from orders (drop key%97, bump
    price on key%13, clone key%11 under new keys), then the full-outer diff
    classifies every divergence. The oracle re-derives the same snapshot and
    classifies by direct column comparison — a hash match proves the
    digest-based change detection is exactly column equality."""
    from nyc_analytics_database_platform_spark.operators.diff import snapshot_diff

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    new_snap = (
        orders.filter(~(key % 97 == 0))
        .withColumn(
            "o_totalprice",
            F.when(key % 13 == 0, F.col("o_totalprice") + F.lit(10.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            orders.filter(key % 11 == 0).withColumn("o_orderkey", key + F.lit(20000000))
        )
    )
    return (
        snapshot_diff(orders, new_snap, ["o_orderkey"])
        .select(F.col("o_orderkey").alias("orderkey"), "change_type")
        .orderBy("orderkey")
    )


@register(
    "zorder_layout_keys",
    oracle=f"""
        SELECT o_orderkey AS orderkey,
               o_custkey & 65535 AS x,
               datediff('day', TIMESTAMP '1970-01-01', o_orderdate) & 65535 AS y,
               {zvalue_oracle_sql("o_custkey & 65535",
                                  "datediff('day', TIMESTAMP '1970-01-01', o_orderdate) & 65535")}
                 AS zval
        FROM orders
        WHERE o_orderkey % 250 = 0
        ORDER BY orderkey
    """,
    tags=("layout", "zorder", "warehouse"),
)
def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key derivation (functions/zorder.zvalue): Morton-interleave of
    (customer, order-day) — the two-dimensional clustering key behind
    zorder_sort's write layout. The oracle recomputes the interleave with
    independent arithmetic, pinning every bit position.

    Scale: narrow per-row expression; the layout write it feeds
    (functions/zorder.zorder_sort) adds one range exchange."""
    x = "o_custkey & 65535"
    y = "datediff(o_orderdate, DATE '1970-01-01') & 65535"
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 250 == 0)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.expr(x).alias("x"),
            F.expr(y).alias("y"),
            zvalue(x, y).alias("zval"),
        )
        .orderBy("orderkey")
    )


@register(
    "scd2_point_in_time_join",
    oracle="""
        WITH ordered AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ),
        ch AS (
            SELECT * FROM ordered
            WHERE prev_status IS NULL OR o_orderstatus <> prev_status
        ),
        iv AS (
            SELECT o_custkey AS k, o_orderstatus AS status,
                   o_orderdate AS vf,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey) AS vt
            FROM ch
        )
        SELECT o.o_orderkey AS orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               i.status AS status_asof,
               (i.status = o.o_orderstatus) AS consistent
        FROM orders o
        JOIN iv i ON i.k = o.o_custkey
                 AND o.o_orderdate >= i.vf
                 AND (i.vt IS NULL OR o.o_orderdate < i.vt)
        WHERE o.o_orderkey % 5 = 0
    """,
    tags=("scd2", "point-in-time", "feature-store"),
    bench=True,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join - the feature-store primitive that prevents
    training-data leakage: each fact row gets the dimension version that was
    valid AT ITS OWN timestamp, never a later one.

    Plan (round 9): ONE window pass instead of SCD2-build + interval join.
    Because these facts come from the same log that sources the dimension,
    the run valid at a row's date is the run of the LAST row (by
    (o_orderdate, o_orderkey)) with o_orderdate <= its own - the running
    MAX of struct(date, key, status) over a RANGE frame, exactly the
    rewrite scd2_point_in_time_bucketed proved equivalent against this
    very interval-join oracle. The interval-join form cost two Exchanges
    (SCD build + fact side of the sort-merge join) and two sorts; this is
    one Exchange + one sort over the same bytes - strictly less work at
    any scale. The UNCHANGED interval-join SQL stays as the oracle, so the
    hash match attests the plan rewrite changes no answer. For facts from
    a DIFFERENT table see pit_external_facts_asof (the general union-as-of
    form); for the zero-Exchange layout twin see
    scd2_point_in_time_bucketed. No final ORDER BY and sink-mode benching,
    same rationale as sessionize_event_stats.

    Round 11: the running-max payload is a PACKED LONG, not a struct.
    Packing (epoch_day << 47) | (o_orderkey << 7) | ascii(status)
    preserves the exact (date, key) lexicographic order (day < 2^16
    covers year 2149, orderkey < 2^40 covers TPC-H sf100000 ≈ 100 TB,
    status is one ASCII byte; orderkey uniqueness makes ties impossible,
    so the status bits never decide a comparison) and makes the
    running max a single long compare per row. Measured at sf16
    interleaved dual-pass: 2.58/1.97 (struct) -> 1.62/1.62 (packed) vs
    DuckDB.

    Round 12 (VERDICT r11 #3): the exchange + sort now carry ONLY
    (o_custkey, packed) — every output column (orderkey, date, status,
    and the as-of comparison) is reconstructed FROM the packed long
    after the window, so the shuffled row shrinks from the 4 base
    columns + window input (~40 B) to two longs + the projected sort
    key (~24 B). The RANGE frame orders by the day bits
    (shiftright 47 == the epoch day), which is value-identical to
    ordering by o_orderdate, so same-date peers stay inside the frame
    and the oracle semantics are unchanged."""
    _day = F.shiftright("_pk", 47)
    _okey = F.shiftright("_pk", 7).bitwiseAND(F.lit((1 << 40) - 1))
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.shiftleft(
                F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long"),
                47,
            )
            + F.shiftleft(F.col("o_orderkey"), 7)
            + F.ascii("o_orderstatus")
        ).alias("_pk"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(_day)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    status_asof = F.expr("char(_asof & 127)")
    return (
        orders.select("_pk", F.max("_pk").over(w).alias("_asof"))
        .filter(_okey % 5 == 0)
        .select(
            _okey.alias("orderkey"),
            F.date_format(
                F.expr("date_from_unix_date(cast(shiftright(_pk, 47) as int))"),
                "yyyy-MM-dd",
            ).alias("order_date"),
            status_asof.alias("status_asof"),
            (status_asof == F.expr("char(_pk & 127)")).alias("consistent"),
        )
    )


@register(
    "scd2_point_in_time_bucketed",
    oracle="""
        WITH ordered AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ),
        ch AS (
            SELECT * FROM ordered
            WHERE prev_status IS NULL OR o_orderstatus <> prev_status
        ),
        iv AS (
            SELECT o_custkey AS k, o_orderstatus AS status,
                   o_orderdate AS vf,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey) AS vt
            FROM ch
        )
        SELECT o.o_orderkey AS orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               i.status AS status_asof,
               (i.status = o.o_orderstatus) AS consistent
        FROM orders o
        JOIN iv i ON i.k = o.o_custkey
                 AND o.o_orderdate >= i.vf
                 AND (i.vt IS NULL OR o.o_orderdate < i.vt)
        WHERE o.o_orderkey % 5 = 0
    """,
    tags=("scd2", "point-in-time", "layout", "bucketing", "feature-store"),
    bench=True,
)
def scd2_point_in_time_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time status, exchange-free: the layout-lifecycle twin of
    scd2_point_in_time_join. Orders live as a bucketed (o_custkey) and
    per-bucket sorted (o_custkey, o_orderdate, o_orderkey) parquet table
    (operators/bucketed.py, built once per source snapshot, freshness-
    stamped), so the whole plan - window, filter, project, sink - runs
    with ZERO Exchange and ZERO Sort nodes (pinned by
    tests/test_scalejoin_plans.py).

    On the sorted layout the interval join itself collapses into ONE
    streaming window: for every order row, the run valid at its date is
    the run of the LAST order (by (o_orderdate, o_orderkey)) with
    o_orderdate <= its own - multiple same-day status changes make every
    interval but the last at that date empty, which is exactly what a
    running MAX of struct(o_orderdate, o_orderkey, o_orderstatus) over a
    RANGE frame (all rows with date <= current) selects. Every row's
    status equals its run's status, so scanning orders stands in for
    scanning change rows. The rewrite is only valid because these facts
    are a subset of the change-log source; for facts from a DIFFERENT
    table, use scd2_point_in_time_join (the general interval-join form).
    Oracle: the UNCHANGED interval-join SQL over the un-layouted source -
    a hash match proves both the layout lifecycle and the window rewrite
    change no answer.

    Scale: at 100 TB the fact table is already bucket-sorted for exactly
    this family (one clustered write per snapshot, bucket count sized to
    the ~1 GB file target); SCD2 maintenance then streams each bucket
    once with no shuffle at all."""
    orders = bucketed_sorted_table(
        spark,
        sf_dir,
        "orders",
        key="o_custkey",
        sort_cols=("o_custkey", "o_orderdate", "o_orderkey"),
        cols=("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
        alias="orders_scd",
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    asof = F.max(F.struct("o_orderdate", "o_orderkey", "o_orderstatus")).over(w)
    return (
        orders.withColumn("_asof", asof)
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("_asof.o_orderstatus").alias("status_asof"),
            (F.col("_asof.o_orderstatus") == F.col("o_orderstatus")).alias(
                "consistent"
            ),
        )
    )


@register(
    "sessionize_stats_bucketed",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
            FROM events
        ),
        flags AS (
            SELECT *,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w >= 300000000
                        THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        sess AS (
            SELECT *,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flags
        )
        SELECT user_id,
               CAST(session_seq AS BIGINT) AS session_seq,
               MIN(us) AS session_start_us,
               MAX(us) AS session_end_us,
               COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_event_types,
               {ORACLE_SUM.format(col="value")} AS total_value
        FROM sess
        GROUP BY user_id, session_seq
    """,
    tags=("session", "window", "layout", "bucketing", "training-data"),
    bench=True,
)
def sessionize_stats_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization, exchange-free: the layout-lifecycle twin of
    sessionize_event_stats over events bucketed on user_id and per-bucket
    sorted by (user_id, ts, event_id). Both sessionize window passes AND
    the per-session rollup (grouping on (user_id, session_seq), which the
    user_id bucketing already co-locates) then plan with zero Exchange
    nodes - the whole pipeline streams each bucket once. Same 5-minute
    gap, same oracle semantics as the generic form; the oracle reads the
    un-layouted source, so a hash match proves the layout changes no
    session boundary.

    Scale: session assembly is THE canonical pre-training pass over a
    100 TB event log; with the log bucket-sorted by (user, time) - how a
    maintained warehouse stores it anyway - the pass is pure per-bucket
    streaming, no shuffle of the log ever again."""
    events = bucketed_sorted_table(
        spark,
        sf_dir,
        "events",
        key="user_id",
        sort_cols=("user_id", "ts", "event_id"),
        cols=("user_id", "event_id", "event_type", "value", "ts"),
        alias="events_sess",
    )
    sess = sessionize(
        events, "user_id", "ts", gap_seconds=300, order_cols=("event_id",)
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min(F.unix_micros("ts")).alias("session_start_us"),
        F.max(F.unix_micros("ts")).alias("session_end_us"),
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_event_types"),
        exact_sum("value").alias("total_value"),
    )


@register(
    "trailing_90d_customer_features",
    oracle="""
        WITH o AS (
            SELECT o_custkey, o_orderkey,
                   datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS d,
                   o_orderdate, o_totalprice
            FROM orders
        )
        SELECT o_orderkey AS orderkey,
               CAST(COUNT(*) OVER w - 1 AS BIGINT) AS prior_90d_orders,
               CAST(coalesce(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w
                             - CAST(o_totalprice AS DECIMAL(18,4)), 0)
                    AS DOUBLE) AS prior_90d_revenue
        FROM o
        WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                     RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
        QUALIFY o_orderkey % 10 = 0
        ORDER BY orderkey
    """,
    tags=("feature-store", "window", "training-data"),
)
def trailing_90d_customer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window features as-of each fact row (leakage-safe: the
    current row is excluded by subtracting it from the CURRENT ROW frame,
    which keeps the frame spec identical in both engines even when several
    orders share a day): per customer, order count and decimal-exact revenue
    over the prior 90 days. The standard feature-backfill shape.

    Scale: one shuffle on the key; the RANGE frame is bounded (90 days), so
    state per key is bounded regardless of history length."""
    orders = load(spark, sf_dir, "orders")
    day = F.expr("datediff(o_orderdate, DATE '1970-01-01')")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-90, Window.currentRow)
    )
    price_dec = F.col("o_totalprice").cast("decimal(18,4)")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            day.alias("d"),
            "o_totalprice",
            (F.count("*").over(w) - 1).cast("long").alias("prior_90d_orders"),
            F.coalesce(F.sum(price_dec).over(w) - price_dec, F.lit(0))
            .cast("double")
            .alias("prior_90d_revenue"),
        )
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            "prior_90d_orders",
            "prior_90d_revenue",
        )
        .orderBy("orderkey")
    )


@register(
    "incremental_distinct_buyers_hll",
    # Tolerance oracle (same pattern as approx_distinct_buyers): exact count
    # + TRUE-pinned assertions; sketch bytes are engine-specific.
    oracle="""
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_buyers,
               TRUE AS within_tolerance,
               TRUE AS merge_consistent
        FROM orders
    """,
    tags=("incremental", "approx", "warehouse"),
)
def incremental_distinct_buyers_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DISTINCT maintenance - the non-algebraic aggregate that
    needs a sketch: count/sum/min/max merge trivially (incremental_monthly_
    revenue) but distinct does not, so the stored form is an HLL sketch per
    batch, merged register-wise (hll_union) at refresh time. Asserts the
    tolerance (merged estimate within 5% of exact) and near-agreement with
    the single-pass sketch (within 2%: Datasketches' union path may promote
    the sketch representation, so estimates agree closely but not exactly -
    measured 1488 vs 1494 vs exact 1500 at sf0.01). At 100 TB the stored
    aggregate is a few KB per group regardless of history."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    history = orders.filter(F.col("o_orderdate") < cutoff)
    delta = orders.filter(F.col("o_orderdate") >= cutoff)
    sk_h = history.agg(F.hll_sketch_agg("o_custkey").alias("sk_h"))
    sk_d = delta.agg(F.hll_sketch_agg("o_custkey").alias("sk_d"))
    exact = orders.agg(
        F.countDistinct("o_custkey").alias("exact_buyers"),
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est_single"),
    )
    merged = (
        sk_h.crossJoin(sk_d)
        .select(
            F.hll_sketch_estimate(F.hll_union("sk_h", "sk_d")).alias("est_merged")
        )
        .crossJoin(F.broadcast(exact))
    )
    return merged.select(
        "exact_buyers",
        (
            F.abs(F.col("est_merged") - F.col("exact_buyers"))
            / F.col("exact_buyers")
            <= 0.05
        ).alias("within_tolerance"),
        (
            F.abs(F.col("est_merged") - F.col("est_single"))
            / F.col("exact_buyers")
            <= 0.02
        ).alias("merge_consistent"),
    )


@register(
    "session_window_user_stats",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, value, epoch_us(ts) AS us
            FROM events
        ),
        flags AS (
            SELECT *,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w >= 300000000
                        THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        sess AS (
            SELECT *,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flags
        )
        SELECT user_id,
               MIN(us) AS start_us,
               MAX(us) + 300000000 AS end_us,
               COUNT(*) AS n_events,
               {ORACLE_SUM.format(col="value")} AS total_value
        FROM sess
        GROUP BY user_id, session_seq
        ORDER BY user_id, start_us
    """,
    tags=("session", "window", "spark4"),
)
def session_window_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN batch session_window aggregate (5-minute gap) - the
    native twin of the hand-rolled sessionize operator
    (sessionize_event_stats): Spark merges events into [first, last+gap)
    windows inside one aggregate, no window-function pass at all. The
    oracle derives the same sessions via the lag-island construction and
    adds the gap to the last event, attesting the two formulations agree
    event-for-event. Scale: one shuffle on user_id; the session merge is
    per-key state inside the aggregate, never a global sort."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "5 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("start_us"),
            F.unix_micros("sw.end").alias("end_us"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "start_us")
    )


def build_month_sketch_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the per-month HLL sketch TABLE: one row per order month with
    the Datasketches HLL of that month's buyers as a parquet binary column
    (plus the month's algebraic partials). The durable form of
    incremental_distinct_buyers_hll's in-query sketches - at 100 TB this
    table is a few KB per month regardless of fact size, and any
    time-range distinct-buyers question becomes a KB-scale scan +
    register-wise union instead of a fact re-scan (the reference recomputes
    COUNT(DISTINCT ...) from the base table per request, server.py:140-236).
    Freshness-stamped against the source like every persisted layout."""
    from nyc_analytics_database_platform_spark.queries.parity_scalejoin import (
        _is_fresh,
        _scratch,
    )

    path = _scratch(sf_dir, "hll_month_sketches")
    marker = path + "_done"
    stamp = layouts.source_stamp(sf_dir, "orders")
    if not _is_fresh(marker, stamp):
        (
            load(spark, sf_dir, "orders")
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
            .agg(
                F.hll_sketch_agg("o_custkey").alias("sk"),
                F.count("*").alias("n_orders"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )
        layouts.mark_fresh(marker, stamp)
    return path


@register(
    "sketch_table_range_buyers",
    # Tolerance oracle (pattern of incremental_distinct_buyers_hll): the
    # exact distinct is engine-comparable; the HLL estimate is
    # implementation-specific, so the sketch side is asserted as a
    # TRUE-pinned tolerance predicate.
    oracle="""
        SELECT CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT)
                   AS n_months,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_buyers,
               TRUE AS within_tolerance
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1999-01-01'
    """,
    tags=("incremental", "approx", "warehouse", "layout", "sketch-table"),
)
def sketch_table_range_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct buyers over a 24-month range answered from the PERSISTED
    sketch table: read the month rows, union the HLL registers
    (hll_union_agg over the parquet-roundtripped binary column), estimate.
    The fact table is touched only by the tolerance check's exact twin -
    in production that side doesn't run; the 5% assertion (Datasketches
    lgConfigK=12 is ~1.6% typical) is what makes the answer auditable
    here. Attests the full artifact lifecycle: binary sketch column
    survives parquet write/read, merges associatively across months, and
    the merged estimate tracks the exact answer."""
    path = build_month_sketch_table(spark, sf_dir)
    sk_tab = spark.read.parquet(path).filter(
        F.col("o_month").between("1997-01", "1998-12")
    )
    merged = sk_tab.agg(
        F.count("*").alias("n_months"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .agg(F.countDistinct("o_custkey").alias("exact_buyers"))
    )
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_months",
        "exact_buyers",
        (
            F.abs(F.col("est") - F.col("exact_buyers"))
            / F.col("exact_buyers")
            <= 0.05
        ).alias("within_tolerance"),
    )


@register(
    "scd2_apply_changes_orders",
    # Full-recompute oracle: the incremental merge must reproduce the exact
    # table scd2_intervals builds over the WHOLE log (same SQL shape as
    # scd2_customer_status_history, which attests the derivation itself).
    oracle="""
        WITH ordered AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ),
        ch AS (
            SELECT * FROM ordered
            WHERE prev_status IS NULL OR o_orderstatus <> prev_status
        ),
        iv AS (
            SELECT o_custkey, o_orderstatus,
                   o_orderdate AS vf,
                   lead(o_orderdate) OVER w2 AS vt,
                   CAST(ROW_NUMBER() OVER w2 AS INT) AS version
            FROM ch
            WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        )
        SELECT o_custkey AS custkey,
               o_orderstatus AS status,
               strftime(vf, '%Y-%m-%d') AS valid_from,
               strftime(vt, '%Y-%m-%d') AS valid_to,
               version,
               (vt IS NULL) AS is_current
        FROM iv
        ORDER BY custkey, version
    """,
    tags=("scd2", "incremental", "warehouse"),
)
def scd2_apply_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 INCREMENTAL maintenance (operators/maintenance.
    scd2_apply_changes): the dimension is first built from the pre-1999
    log only, then the 1999+ tail is folded in WITHOUT re-windowing
    history - the history side is touched by key-equi joins against one
    seam row per delta key (absorb the current row when the delta starts
    with the same status, close it at the delta's first timestamp
    otherwise; versions continue the sequence). The full-recompute oracle
    attests merge(derive(hist), delta) == derive(hist ∪ delta) row for
    row - the warm-start-equals-recompute discipline of
    dedup_incremental_clusters applied to the SCD2 lifecycle. At 100 TB
    the nightly batch re-sorts ONLY the delta; the O(|history|) window
    pass never reruns."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    hist_scd = scd2_intervals(
        orders.filter(F.col("o_orderdate") < cutoff),
        key_col="o_custkey",
        ts_col="o_orderdate",
        attr_cols=("o_orderstatus",),
        order_cols=("o_orderkey",),
    )
    merged = scd2_apply_changes(
        hist_scd,
        orders.filter(F.col("o_orderdate") >= cutoff),
        key_col="o_custkey",
        ts_col="o_orderdate",
        attr_cols=("o_orderstatus",),
        order_cols=("o_orderkey",),
    )
    return merged.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "version",
        "is_current",
    ).orderBy("custkey", "version")


@register(
    "sessionize_incremental_merge",
    # Full-recompute oracle: one-pass sessionization over ALL events (the
    # sessionize_event_stats derivation) - the merged table must equal it.
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
            FROM events
        ),
        flags AS (
            SELECT *,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w >= 300000000
                        THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        sess AS (
            SELECT *,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flags
        )
        SELECT user_id,
               CAST(session_seq AS BIGINT) AS session_seq,
               MIN(us) AS session_start_us,
               MAX(us) AS session_end_us,
               COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_event_types,
               {ORACLE_SUM.format(col="value")} AS total_value
        FROM sess
        GROUP BY user_id, session_seq
    """,
    tags=("session", "incremental", "warehouse"),
)
def sessionize_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-table INCREMENTAL maintenance (operators/maintenance.
    merge_session_tables): sessionize the pre-cutoff events and the
    post-cutoff tail SEPARATELY, then merge the two session tables at the
    per-user seam (history's last session absorbs the delta's first iff
    the boundary gap is under the 5-minute close rule; delta seqs renumber
    to continue the history sequence). Mergeability discipline: the sum
    rides as an exact DECIMAL partial and the distinct-event-type count as
    a set partial (counts don't merge; sets do - array_union at the seam,
    SIZE at the end; same partial-aggregate playbook as operators/
    incremental.partial_agg). The full-recompute oracle attests the merged
    table equals one-pass sessionization of all events. At 100 TB only
    the day's events are sorted; the persisted session table is touched
    at one row per active user."""
    events = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")

    def session_table(df: DataFrame) -> DataFrame:
        sess = sessionize(df, "user_id", "ts", gap_seconds=300, order_cols=("event_id",))
        return sess.groupBy("user_id", "session_seq").agg(
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("session_end_us"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("_value_dec"),
            F.collect_set("event_type").alias("_type_set"),
        )

    merged = merge_session_tables(
        session_table(events.filter(F.col("ts") < cutoff)),
        session_table(events.filter(F.col("ts") >= cutoff)),
        key_col="user_id",
        gap_us=300 * 1_000_000,
        add_cols=("n_events", "_value_dec"),
        set_cols=("_type_set",),
    )
    return merged.select(
        "user_id",
        "session_seq",
        "session_start_us",
        "session_end_us",
        "n_events",
        F.size("_type_set").cast("bigint").alias("n_event_types"),
        F.col("_value_dec").cast("double").alias("total_value"),
    )


_QHIST_BINS = 4096


def build_month_quantile_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the per-month price HISTOGRAM table: one row per (order month,
    fixed price bin) with that bin's row count - the mergeable quantile
    twin of build_month_sketch_table. Counts are EXACT algebraic partials
    (unlike the HLL rows), so range-merges reproduce exact counts; the bin
    grid (lo/width, fixed at build time from one min/max scan) is stored
    on every row so readers need no side channel. At 100 TB this is
    <= 4096 tiny rows per month regardless of fact size."""
    from nyc_analytics_database_platform_spark.queries.parity_scalejoin import (
        _is_fresh,
        _scratch,
    )

    path = _scratch(sf_dir, "quantile_month_hist")
    marker = path + "_done"
    stamp = layouts.source_stamp(sf_dir, "orders")
    if not _is_fresh(marker, stamp):
        orders = load(spark, sf_dir, "orders")
        lo, hi = orders.agg(
            F.min("o_totalprice"), F.max("o_totalprice")
        ).first()
        width = ((hi - lo) / _QHIST_BINS) or 1.0
        bin_expr = F.least(
            F.floor((F.col("o_totalprice") - F.lit(lo)) / F.lit(width)),
            F.lit(_QHIST_BINS - 1),
        )
        (
            orders.groupBy(
                F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
                bin_expr.alias("bin"),
            )
            .agg(F.count("*").alias("cnt"))
            .withColumn("lo", F.lit(float(lo)))
            .withColumn("width", F.lit(float(width)))
            .write.mode("overwrite")
            .parquet(path)
        )
        layouts.mark_fresh(marker, stamp)
    return path


@register(
    "quantile_table_range_price",
    # VALUE-EXACT oracle (not a tolerance pin): the two-phase answer is the
    # exact discrete order statistic, which DuckDB re-derives by rank.
    # Integer rank rule on both sides: k = ceil(q*N) computed as
    # (num*N + den - 1) DIV den so no float crosses an integer boundary
    # differently per engine.
    oracle="""
        WITH r AS (
            SELECT o_totalprice AS p, o_orderdate
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1999-01-01'
        ),
        v AS (
            SELECT p, ROW_NUMBER() OVER (ORDER BY p) AS rn,
                   COUNT(*) OVER () AS n
            FROM r
        )
        SELECT (SELECT CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m'))
                            AS BIGINT) FROM r) AS n_months,
               CAST(MAX(n) AS BIGINT) AS n_orders,
               MAX(CASE WHEN rn = (1 * n + 1) // 2 THEN p END) AS p50,
               MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN p END) AS p95
        FROM v
    """,
    tags=("sketch", "lifecycle", "quantile", "warehouse"),
)
def quantile_table_range_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p95 price over a 24-month range answered by the classic
    two-phase quantile-at-scale plan: (1) merge the PERSISTED month-grain
    histogram rows for the range (KB-scale scan, exact counts) and walk
    the cumulative distribution to find each quantile's rank, bin, and
    within-bin local rank; (2) one fact scan FILTERED TO THOSE BINS
    (pushed-down price range reads ~N/4096 of the fact) sorts only the
    surviving sliver and picks the order statistic. The answer is exact -
    the sketch does the pruning, not the approximating - so the oracle is
    value-exact, unlike the tolerance-pinned HLL twin
    (sketch_table_range_buyers). The one collect() between phases is a
    2-row locate result (rank/bin/edges), the same bounded-metadata
    category as operators/sketches.py. At 100 TB phase 2 touches two bin
    slivers instead of re-sorting two years of facts."""
    path = build_month_quantile_table(spark, sf_dir)
    tab = spark.read.parquet(path).filter(
        F.col("o_month").between("1997-01", "1998-12")
    )
    merged = tab.groupBy("bin").agg(
        F.sum("cnt").alias("cnt"),
        F.first("lo").alias("lo"),
        F.first("width").alias("width"),
    )
    n_months = tab.select("o_month").distinct().count()
    # Bounded window: <= _QHIST_BINS rows by construction.
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.withColumn("cum", F.sum("cnt").over(wcum))
    tot = cum.agg(F.max("cum").alias("n_tot"))
    located = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "bin", "cnt", "cum", "lo", "width", "n_tot",
            ((F.lit(1) * F.col("n_tot") + 1) / 2).cast("long").alias("k50"),
            ((F.lit(19) * F.col("n_tot") + 19) / 20).cast("long").alias("k95"),
        )
        .withColumn("prev", F.col("cum") - F.col("cnt"))
    )
    locate = located.agg(
        F.first("n_tot").alias("n_tot"),
        F.first("lo").alias("lo"),
        F.first("width").alias("width"),
        F.min(F.when(F.col("cum") >= F.col("k50"), F.col("bin"))).alias("b50"),
        # Local rank at the FIRST qualifying bin: k - prev decreases as prev
        # grows across qualifying bins, so the first bin's value is the MAX.
        F.max(
            F.when(F.col("cum") >= F.col("k50"), F.col("k50") - F.col("prev"))
        ).alias("r50"),
        F.min(F.when(F.col("cum") >= F.col("k95"), F.col("bin"))).alias("b95"),
        F.max(
            F.when(F.col("cum") >= F.col("k95"), F.col("k95") - F.col("prev"))
        ).alias("r95"),
    ).first()

    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    lo, width = locate["lo"], locate["width"]
    bin_expr = F.least(
        F.floor((F.col("o_totalprice") - F.lit(lo)) / F.lit(width)),
        F.lit(_QHIST_BINS - 1),
    )
    quantiles = []
    for b, r, name in ((locate["b50"], locate["r50"], "p50"),
                       (locate["b95"], locate["r95"], "p95")):
        # Pushdown range widened one bin each side: the parquet filter is a
        # plain price range Catalyst can push; exact membership is re-decided
        # by the SAME bin expression the build used, so float edge rounding
        # can't disagree with the histogram.
        lo_edge = lo + (b - 1) * width
        hi_edge = lo + (b + 2) * width
        sliver = orders.filter(
            (F.col("o_totalprice") >= F.lit(lo_edge))
            & ((F.col("o_totalprice") < F.lit(hi_edge)) | F.lit(b >= _QHIST_BINS - 1))
        ).filter(bin_expr == F.lit(b))
        wbin = Window.orderBy("o_totalprice")  # sliver rows only (~N/4096)
        quantiles.append(
            sliver.withColumn("_rn", F.row_number().over(wbin))
            .filter(F.col("_rn") == F.lit(int(r)))
            .select(F.col("o_totalprice").alias(name))
        )
    return (
        spark.createDataFrame(
            [(int(n_months), int(locate["n_tot"]))], "n_months long, n_orders long"
        )
        .crossJoin(F.broadcast(quantiles[0]))
        .crossJoin(F.broadcast(quantiles[1]))
    )


@register(
    "pit_external_facts_asof",
    # Oracle: the textbook SCD2 interval join - build the intervals, map
    # lineitem facts to their customer, join on key + validity range.
    oracle="""
        WITH ordered AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ),
        ch AS (
            SELECT * FROM ordered
            WHERE prev_status IS NULL OR o_orderstatus <> prev_status
        ),
        iv AS (
            SELECT o_custkey AS k, o_orderstatus AS status,
                   o_orderdate AS vf,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey) AS vt
            FROM ch
        ),
        f AS (
            SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_custkey
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey % 7 = 0
        )
        SELECT f.l_orderkey AS orderkey,
               f.l_linenumber AS linenumber,
               strftime(f.l_shipdate, '%Y-%m-%d') AS ship_date,
               i.status AS status_asof
        FROM f JOIN iv i ON i.k = f.o_custkey
                        AND f.l_shipdate >= i.vf
                        AND (i.vt IS NULL OR f.l_shipdate < i.vt)
    """,
    tags=("scd2", "point-in-time", "asof", "feature-store"),
)
def pit_external_facts_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment of facts from a DIFFERENT table - the
    general feature-store form scd2_point_in_time_join no longer needs to
    carry: lineitem shipments (keyed to the customer through their order)
    get the customer's order-status run that was valid AT SHIP TIME.

    Plan: the UNION-AS-OF form, not an interval join. Dimension log rows
    (src=0) and fact rows (src=1) union into one keyed stream ordered by
    (ts, src); a running MAX of struct(ts, seq, status) over the dim rows
    only gives every fact row the last dimension version at-or-before its
    own timestamp - one Exchange on the key for the union'd stream versus
    the interval join's two (SCD build + fact side), and no join residual
    to evaluate per candidate pair. Facts sort AFTER same-timestamp dim
    rows (src breaks the tie), which is exactly the vf <= t < vt interval
    convention; the interval-join SQL stays as the oracle so the hash
    match proves the rewrite. The lineitem->orders key-mapping join is the
    problem's own cost (facts don't carry the dimension key) and is a
    plain equi join Catalyst plans as co-partitioned at scale."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    dim = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("src"),
        "o_orderkey",
        "o_orderstatus",
        F.lit(None).cast("bigint").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
    )
    facts = (
        lineitem.filter(F.col("l_orderkey") % 7 == 0)
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("k"),
            F.col("l_shipdate").alias("ts"),
            F.lit(1).alias("src"),
            F.lit(None).cast(dict(orders.dtypes)["o_orderkey"]).alias("o_orderkey"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    w = (
        Window.partitionBy("k")
        .orderBy("ts", "src")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    asof = F.max(
        F.when(
            F.col("src") == 0,
            F.struct("ts", "o_orderkey", "o_orderstatus"),
        )
    ).over(w)
    return (
        dim.unionByName(facts)
        .withColumn("_asof", asof)
        .filter(F.col("src") == 1)
        .filter(F.col("_asof").isNotNull())
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.date_format("ts", "yyyy-MM-dd").alias("ship_date"),
            F.col("_asof.o_orderstatus").alias("status_asof"),
        )
    )


_MG_CAPACITY = 64


def build_source_token_mg_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the per-source token heavy-hitter summary TABLE: for each
    document source, its top-`_MG_CAPACITY` whitespace tokens by count
    plus the source's total token count - the Misra-Gries/SpaceSaving
    member of the persisted-sketch family (HLL = distinct, histogram =
    quantiles, this = heavy hitters). Truncating exact per-source counts
    to the top K keeps every token with in-source frequency > n_s/K (more
    than K such tokens would sum past n_s), so the union of summaries is
    a guaranteed candidate SUPERSET for any range query with
    phi >= 1/K. Build cost is one map-side-combined token shuffle per
    snapshot; the table is K tiny rows per source forever after."""
    from nyc_analytics_database_platform_spark.queries.parity_scalejoin import (
        _is_fresh,
        _scratch,
    )

    path = _scratch(sf_dir, "mg_source_token_summaries")
    marker = path + "_done"
    stamp = layouts.source_stamp(sf_dir, "documents")
    if not _is_fresh(marker, stamp):
        docs = load(spark, sf_dir, "documents")
        toks = docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
        )
        counts = toks.groupBy("source", "token").agg(F.count("*").alias("cnt"))
        wsrc = Window.partitionBy("source")
        wrank = Window.partitionBy("source").orderBy(F.desc("cnt"), "token")
        (
            counts.withColumn("n_tokens", F.sum("cnt").over(wsrc))
            .withColumn("_rk", F.row_number().over(wrank))
            .filter(F.col("_rk") <= _MG_CAPACITY)
            .select("source", "token", "cnt", "n_tokens")
            .write.mode("overwrite")
            .parquet(path)
        )
        layouts.mark_fresh(marker, stamp)
    return path


@register(
    "mg_table_heavy_tokens",
    # VALUE-EXACT oracle: the persisted summaries only propose candidates;
    # the answer itself is exact-verified, so a missing heavy token (a
    # broken superset guarantee) would surface as a hash mismatch. The
    # phi comparison is integer (cnt * 32 > N), no float boundary.
    oracle=r"""
        WITH toks AS (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents
            WHERE source IN ('src0','src1','src2','src3','src4',
                             'src5','src6','src7','src8','src9')
        ),
        tot AS (SELECT COUNT(*) AS n FROM toks)
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               (SELECT CAST(n AS BIGINT) FROM tot) AS n_tokens_range
        FROM toks
        GROUP BY token
        HAVING COUNT(*) * 32 > (SELECT n FROM tot)
        ORDER BY n_occurrences DESC, token
    """,
    tags=("sketch", "lifecycle", "heavy-hitters", "llm"),
)
def mg_table_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy tokens (> 1/32 of all tokens) over a 10-source range answered
    from the PERSISTED per-source summaries: merge the KB-scale summary
    rows for candidates and the range token total, then exact-verify ONLY
    the candidates with one filtered fact scan + broadcast semi join -
    the two-pass sketch+verify shape of operators/sketches.heavy_hitters
    with the sketch pass amortized into the build lifecycle. phi = 1/32
    clears the table's 1/64 superset guarantee with 2x margin. At 100 TB
    the per-query cost drops from a full token shuffle to candidate
    counting against <= sources x 64 broadcast values."""
    sources = [f"src{i}" for i in range(10)]
    path = build_source_token_mg_table(spark, sf_dir)
    tab = spark.read.parquet(path).filter(F.col("source").isin(sources))
    cands = tab.select("token").distinct()
    n_range = (
        tab.select("source", "n_tokens")
        .distinct()
        .agg(F.sum("n_tokens").alias("n_tokens_range"))
    )
    docs = load(spark, sf_dir, "documents").filter(F.col("source").isin(sources))
    exact = (
        docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
        )
        .join(F.broadcast(cands), on="token", how="left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(n_range))
        .filter(F.col("n_occurrences") * 32 > F.col("n_tokens_range"))
        .select("token", "n_occurrences", "n_tokens_range")
        .orderBy(F.desc("n_occurrences"), "token")
    )


@register(
    "compaction_stats",
    # Tolerance-style oracle (pattern of the sketch tables): the exact row
    # count is engine-comparable; file-layout facts are attested as
    # TRUE-pinned predicates computed by the engine under test.
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               TRUE AS rows_preserved,
               TRUE AS content_preserved,
               TRUE AS files_reduced
        FROM orders
    """,
    tags=("lifecycle", "compaction", "layout", "warehouse"),
)
def compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction attested end-to-end: fragment orders into 64
    tiny files (the streaming-sink aftermath, freshness-stamped), compact
    them back with operators/compaction.compact_parquet_dir (REBALANCE
    shuffle under an AQE advisory size of total/4), and attest that rows,
    content (order-insensitive xxhash64 checksum over every column), and
    the file-count reduction all hold. The checksum is the part that
    matters: a compactor that drops or duplicates rows under AQE partition
    coalescing would pass a bare count."""
    import math

    from nyc_analytics_database_platform_spark.operators.compaction import (
        compact_parquet_dir,
    )
    from nyc_analytics_database_platform_spark.queries.parity_scalejoin import (
        _is_fresh,
        _scratch,
    )

    frag = _scratch(sf_dir, "compaction_fragmented")
    marker = frag + "_done"
    stamp = layouts.source_stamp(sf_dir, "orders")
    if not _is_fresh(marker, stamp):
        load(spark, sf_dir, "orders").repartition(64).write.mode(
            "overwrite"
        ).parquet(frag)
        layouts.mark_fresh(marker, stamp)
    from nyc_analytics_database_platform_spark.operators.compaction import dir_stats

    _, total_bytes = dir_stats(frag)
    dst = _scratch(sf_dir, "compaction_output")
    stats = compact_parquet_dir(
        spark, frag, dst, target_bytes=max(1, math.ceil(total_bytes / 4))
    )

    def checksum(df):
        # decimal(38,0) sum: exact and overflow-free (1e12 rows x 2^63
        # still fits 38 digits), unlike a long sum under ANSI mode.
        return df.select(
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
            F.count("*").alias("n"),
        )

    before = checksum(spark.read.parquet(frag))
    after = checksum(spark.read.parquet(dst))
    return (
        before.crossJoin(
            after.select(F.col("h").alias("h2"), F.col("n").alias("n2"))
        )
        .select(
            F.col("n").alias("n_rows"),
            (F.col("n") == F.col("n2")).alias("rows_preserved"),
            (F.col("h") == F.col("h2")).alias("content_preserved"),
            F.lit(
                stats["n_files_after"] < stats["n_files_before"]
            ).alias("files_reduced"),
        )
    )


def build_orders_date_manifest(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build the two halves of manifest-based scan pruning: (1) a
    range-fragmented orders layout - repartitionByRange on o_orderdate, so
    each of the 16 files covers a disjoint date slice - and (2) the
    MANIFEST table: one row per file with its footer (min, max, rows) for
    o_orderdate. The manifest is the KB-scale metastore stand-in an
    Iceberg/Delta commit log provides at 100 TB: planners read IT, not
    100k file footers. Freshness-stamped like every persisted layout.
    Returns (layout_dir, manifest_path)."""
    from nyc_analytics_database_platform_spark.queries.parity_scalejoin import (
        _is_fresh,
        _scratch,
    )

    layout = _scratch(sf_dir, "orders_range_fragmented")
    manifest = _scratch(sf_dir, "orders_date_manifest")
    marker = layout + "_done"
    stamp = layouts.source_stamp(sf_dir, "orders")
    if not _is_fresh(marker, stamp):
        # INT96 timestamps carry no parquet min/max statistics; the layout
        # must write TIMESTAMP_MICROS or the manifest has nothing to read
        # (same switch as the z-order layout, parity_scalejoin.py).
        prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            (
                load(spark, sf_dir, "orders")
                .repartitionByRange(16, "o_orderdate")
                .write.mode("overwrite")
                .parquet(layout)
            )
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
        from nyc_analytics_database_platform_spark.operators.compaction import (
            manifest_rows,
        )

        rows = manifest_rows(layout, "o_orderdate")
        spark.createDataFrame(
            rows, "file string, min_ts timestamp, max_ts timestamp, n_rows long"
        ).coalesce(1).write.mode("overwrite").parquet(manifest)
        layouts.mark_fresh(marker, stamp)
    return layout, manifest


@register(
    "manifest_pruned_quarter_revenue",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("lifecycle", "layout", "manifest", "pruning", "warehouse"),
)
def manifest_pruned_quarter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-quarter revenue rollup where the FILE LIST comes from the
    persisted manifest, not a directory listing: qualifying files are
    those whose [min_ts, max_ts] intersects the quarter (a KB-scale
    manifest read + bounded collect - the planner-side act every table
    format performs), and only those files are opened; the precise
    predicate still applies inside them. On the range-fragmented layout
    this reads ~2 of 16 files where directory-scan planning would open
    all 16 to check their footers - at 100 TB, the difference between a
    metadata operation and 100k footer round-trips
    (tests/test_round9_ops.py pins the pruned count). Answers are
    value-exact against the unfragmented source: fragmentation, manifest,
    and pruning change no bytes of the result."""
    q_lo, q_hi = "1997-01-01", "1997-04-01"
    layout, manifest = build_orders_date_manifest(spark, sf_dir)
    picked = (
        spark.read.parquet(manifest)
        .filter(
            (F.col("max_ts") >= F.lit(q_lo).cast("timestamp"))
            & (F.col("min_ts") < F.lit(q_hi).cast("timestamp"))
        )
        .select("file")
        .collect()
    )
    paths = [os.path.join(layout, r["file"]) for r in picked]
    pruned = spark.read.parquet(*paths) if paths else load(
        spark, sf_dir, "orders"
    ).limit(0)
    return (
        pruned.filter(
            (F.col("o_orderdate") >= F.lit(q_lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(q_hi).cast("timestamp"))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .orderBy("o_orderstatus")
    )


def build_scd2_history_table(spark: SparkSession, sf_dir: str) -> str:
    """Persist the SCD2 dimension built from the pre-2001-07 log - the
    warm-start artifact scd2_apply_persisted folds each new log tail into.
    Freshness-stamped like every persisted layout."""
    from nyc_analytics_database_platform_spark.queries.parity_scalejoin import (
        _is_fresh,
        _scratch,
    )

    path = _scratch(sf_dir, "scd2_history_table")
    marker = path + "_done"
    stamp = layouts.source_stamp(sf_dir, "orders")
    if not _is_fresh(marker, stamp):
        cutoff = F.lit("2001-07-01").cast("timestamp")
        scd2_intervals(
            load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff),
            key_col="o_custkey",
            ts_col="o_orderdate",
            attr_cols=("o_orderstatus",),
            order_cols=("o_orderkey",),
        ).write.mode("overwrite").parquet(path)
        layouts.mark_fresh(marker, stamp)
    return path


@register(
    "scd2_apply_persisted",
    # Same full-recompute oracle as scd2_apply_changes_orders, minus the
    # display ORDER BY (sink-mode result; driver compare is
    # order-insensitive).
    oracle="""
        WITH ordered AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ),
        ch AS (
            SELECT * FROM ordered
            WHERE prev_status IS NULL OR o_orderstatus <> prev_status
        ),
        iv AS (
            SELECT o_custkey, o_orderstatus,
                   o_orderdate AS vf,
                   lead(o_orderdate) OVER w2 AS vt,
                   CAST(ROW_NUMBER() OVER w2 AS INT) AS version
            FROM ch
            WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        )
        SELECT o_custkey AS custkey,
               o_orderstatus AS status,
               strftime(vf, '%Y-%m-%d') AS valid_from,
               strftime(vt, '%Y-%m-%d') AS valid_to,
               version,
               (vt IS NULL) AS is_current
        FROM iv
    """,
    tags=("scd2", "incremental", "lifecycle", "warehouse"),
    bench=True,
)
def scd2_apply_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of SCD2 maintenance: fold the last-month log tail (~1.3% of rows - a realistic nightly delta, and the seam frame broadcasts)
    into the PERSISTED dimension table (build_scd2_history_table, built
    once per snapshot) - unlike scd2_apply_changes_orders, which derives
    history in-query to keep its attestation self-contained, the warm
    path here never re-windows history at all: it scans the stored table
    once (pass-through + seam join) and sorts ONLY the delta. The DuckDB
    oracle re-derives the whole dimension from the raw log every run -
    exactly the work the persisted artifact deletes; the hash match
    proves deleting it changes no row. Sink-mode benched: the result is
    dimension-proportional."""
    path = build_scd2_history_table(spark, sf_dir)
    hist_scd = spark.read.parquet(path)
    cutoff = F.lit("2001-07-01").cast("timestamp")
    merged = scd2_apply_changes(
        hist_scd,
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= cutoff),
        key_col="o_custkey",
        ts_col="o_orderdate",
        attr_cols=("o_orderstatus",),
        order_cols=("o_orderkey",),
        broadcast_seam=True,
    )
    return merged.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "version",
        "is_current",
    )


def build_compacted_manifest_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, dict]:
    """Fragment orders into 64 tiny range files (the streaming-sink
    aftermath on a manifest-tracked table), then compact them with
    operators/compaction.compact_manifest_table - the rewrite-then-
    manifest-refresh pairing every table format's OPTIMIZE commits as one
    transaction (VERDICT r9 #5: a compactor that leaves the old manifest
    standing strands planners on deleted files). Freshness-stamped; the
    compaction stats ride the marker file so warm sessions can attest the
    file-count reduction without re-running the rewrite.
    Returns (compacted_layout_dir, manifest_path, stats)."""
    import json as _json
    import math as _math

    from nyc_analytics_database_platform_spark.operators.compaction import (
        compact_manifest_table,
        dir_stats,
    )
    from nyc_analytics_database_platform_spark.queries.parity_scalejoin import (
        _scratch,
    )

    frag = _scratch(sf_dir, "orders_cmanifest_fragmented")
    dst = _scratch(sf_dir, "orders_cmanifest_compacted")
    manifest = _scratch(sf_dir, "orders_cmanifest_manifest")
    marker = dst + "_done"
    stats_file = dst + "_stats.json"
    stamp = layouts.source_stamp(sf_dir, "orders")
    if not layouts.is_fresh(marker, stamp, data_dirs=(dst, manifest)):
        prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            (
                load(spark, sf_dir, "orders")
                .repartitionByRange(64, "o_orderdate")
                .write.mode("overwrite")
                .parquet(frag)
            )
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
        _, total_bytes = dir_stats(frag)
        stats = compact_manifest_table(
            spark,
            frag,
            dst,
            manifest,
            target_bytes=max(1, _math.ceil(total_bytes / 4)),
            range_col="o_orderdate",
        )
        with open(stats_file, "w") as fh:
            _json.dump(stats, fh)
        layouts.mark_fresh(marker, stamp)
    with open(stats_file) as fh:
        stats = _json.load(fh)
    return dst, manifest, stats


@register(
    "manifest_compacted_quarter_revenue",
    # same full-recompute oracle as manifest_pruned_quarter_revenue: the
    # fragment -> compact -> manifest-refresh -> prune chain changes no
    # bytes of the answer
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("lifecycle", "layout", "manifest", "compaction", "pruning", "warehouse"),
)
def manifest_compacted_quarter_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """manifest_pruned_quarter_revenue run AFTER a transactional
    compaction: the 64-file fragmented layout is rewritten range-clustered
    (files keep disjoint o_orderdate stat ranges, so they stay prunable)
    and the manifest refreshes from the NEW footers in the same operation;
    the quarter scan then prunes against the refreshed manifest and opens
    ~1-2 of the compacted files. Proves the two maintenance primitives
    compose: compaction does not strand the manifest, pruning does not
    read ghosts (tests/test_round10_ops.py pins file counts and
    manifest/listing agreement)."""
    q_lo, q_hi = "1997-01-01", "1997-04-01"
    layout, manifest, _stats = build_compacted_manifest_layout(spark, sf_dir)
    picked = (
        spark.read.parquet(manifest)
        .filter(
            (F.col("max_ts") >= F.lit(q_lo).cast("timestamp"))
            & (F.col("min_ts") < F.lit(q_hi).cast("timestamp"))
        )
        .select("file")
        .collect()
    )
    paths = [os.path.join(layout, r["file"]) for r in picked]
    pruned = spark.read.parquet(*paths) if paths else load(
        spark, sf_dir, "orders"
    ).limit(0)
    return (
        pruned.filter(
            (F.col("o_orderdate") >= F.lit(q_lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(q_hi).cast("timestamp"))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .orderBy("o_orderstatus")
    )


def build_scd2_current_snapshot(spark: SparkSession, sf_dir: str) -> str:
    """Persist the CURRENT-ROWS partition of the SCD2 dimension - the hot
    snapshot every Type-2 warehouse keeps separate from immutable closed
    history (is_current partitioning). The nightly delta commit only ever
    touches current rows, so its history scan is |keys| rows, not
    |dimension| (measured 8.3M -> 1.2M at sf8). Derived from the
    persisted history table, freshness-stamped on the same source."""
    from nyc_analytics_database_platform_spark.queries.parity_scalejoin import (
        _scratch,
    )

    path = _scratch(sf_dir, "scd2_current_snapshot")
    marker = path + "_done"
    stamp = layouts.source_stamp(sf_dir, "orders")
    if not layouts.is_fresh(marker, stamp, data_dirs=(path,)):
        hist = spark.read.parquet(build_scd2_history_table(spark, sf_dir))
        hist.filter("is_current").write.mode("overwrite").parquet(path)
        layouts.mark_fresh(marker, stamp)
    return path


@register(
    "scd2_apply_delta_commit",
    # Oracle: the maintained table restricted to runs still OPEN at each
    # delta key's first post-cutoff timestamp - exactly the rows a
    # merge-on-read commit writes (closed current rows + renumbered delta
    # runs, absorbed first run keeping its history valid_from/version).
    oracle="""
        WITH ordered AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ),
        ch AS (
            SELECT * FROM ordered
            WHERE prev_status IS NULL OR o_orderstatus <> prev_status
        ),
        iv AS (
            SELECT o_custkey, o_orderstatus,
                   o_orderdate AS vf,
                   lead(o_orderdate) OVER w2 AS vt,
                   CAST(ROW_NUMBER() OVER w2 AS INT) AS version
            FROM ch
            WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ),
        dk AS (
            SELECT o_custkey, MIN(o_orderdate) AS fd
            FROM orders WHERE o_orderdate >= TIMESTAMP '2001-07-01'
            GROUP BY o_custkey
        )
        SELECT iv.o_custkey AS custkey, iv.o_orderstatus AS status,
               STRFTIME(iv.vf, '%Y-%m-%d') AS valid_from,
               STRFTIME(iv.vt, '%Y-%m-%d') AS valid_to,
               iv.version,
               (iv.vt IS NULL) AS is_current
        FROM iv JOIN dk ON iv.o_custkey = dk.o_custkey
        WHERE iv.vt IS NULL OR iv.vt >= dk.fd
    """,
    tags=("lifecycle", "scd2", "incremental", "maintenance", "warehouse"),
)
def scd2_apply_delta_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the nightly SCD2 merge: emit ONLY the merge's
    WRITE SET (operators/maintenance.scd2_apply_delta) instead of
    rewriting the whole maintained dimension. scd2_apply_persisted's sf8
    decomposition showed 78% of its wall time is the O(|dimension|)
    result rewrite both the query and the sink contract force; a real
    table format commits this delta (closed current rows + the delta's
    renumbered runs) and leaves untouched history bytes alone. Plan: one
    broadcast-seam SCAN of the persisted CURRENT snapshot (|keys| rows -
    closed history is immutable and never read), delta-only windowing,
    ~|delta|-proportional result. The
    oracle derives the identical write set from the full log, so the
    short-cut provably writes exactly what a full recompute would have
    changed."""
    cur_path = build_scd2_current_snapshot(spark, sf_dir)
    current = spark.read.parquet(cur_path)
    cutoff = F.lit("2001-07-01").cast("timestamp")
    from nyc_analytics_database_platform_spark.operators.maintenance import (
        scd2_apply_delta,
    )

    # Source the log tail through the MANIFEST-pruned range layout: the
    # nightly pipeline reads the tail partitions, never the full log - a
    # full-orders scan just to filter out 98.7% of it measured ~70% of
    # this query's wall time at sf8. Composes two lifecycle artifacts
    # (manifest pruning + merge) the way a real warehouse does.
    layout, manifest = build_orders_date_manifest(spark, sf_dir)
    picked = (
        spark.read.parquet(manifest)
        .filter(F.col("max_ts") >= cutoff)
        .select("file")
        .collect()
    )
    tail = (
        spark.read.parquet(*[os.path.join(layout, r["file"]) for r in picked])
        if picked
        else load(spark, sf_dir, "orders").limit(0)
    )
    delta = scd2_apply_delta(
        current,
        tail.filter(F.col("o_orderdate") >= cutoff),
        key_col="o_custkey",
        ts_col="o_orderdate",
        attr_cols=("o_orderstatus",),
        order_cols=("o_orderkey",),
        broadcast_seam=True,
    )
    return delta.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "version",
        "is_current",
    )
