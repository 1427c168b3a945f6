"""`analytics`: the registry's headline queries as one batch job.

One client runs 15 of the registry's 29 headline queries (see QUERIES)
over generated tables with the row counts of TPC-H scale factor 0.1 (see
gen.TPCH_SIZES), in a fixed order and in whole passes until the measuring
time is used (a pass is longer than that, so a run is one pass). The order
is fixed because in a cold pass it decides which query pays the JIT
warm-up, which moved the median query latency by about 20% between seeds;
the seed varies the data. The first pass is the batch's real cost in a
fresh application: JIT warm-up and persisted layout builds inside the
queries are paid there, as a nightly job pays them. Engine state is cleared
between queries. Result-proportional queries write to a run-private parquet
sink, the rest are collected. Every result is compared with the query's
DuckDB oracle afterwards.
"""

from __future__ import annotations

import os
import time

import gen

# Headline registry queries, pinned so the workload does not change when the
# registry gains queries. At the row counts of scale factor 0.1 on 4 cores,
# 24 of the 29 took 59 s in one cold pass plus 16 s of checks, more than a
# run can spend, so 14 are left out: curation_funnel_report, dedup_minhash_clusters, dedup_minhash_lsh_pairs
# (12 s), dedup_simhash_pairs_bucketed, dedup_jaccard_prefix_filter,
# corpus_span_dedup, pagerank_trade_graph (9 s), ann_bruteforce_top10 (5 s),
# scd2_apply_persisted, sessionize_stats_bucketed and sessionize_event_stats
# (3-6 s each with their checks), scd2_point_in_time_join,
# snapshot_diff_orders and bookmarks_summary_batch. The kept ones cover
# TPC-H, time series, windows, SCD2 over a persisted layout, vectors, text,
# streaming and as-of joins; the iterative dedup and graph loops are out.
QUERIES = (
    "asof_join_purchase_last_click", "embedding_near_pairs_bucketed",
    "flagship_orders_status_by_nation", "month_spine_zero_fill",
    "monthly_order_counts",
    "scd2_point_in_time_bucketed", "stream_tumbling_event_counts",
    "text_token_stats", "top5_other_rollup",
    "tpch_q18_large_orders", "tpch_q19_disjunctive_revenue",
    "tpch_q1_pricing_summary", "tpch_q21_waiting_suppliers",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
)
# Results that grow with the input go to a sink instead of the driver.
SINK = frozenset({"scd2_point_in_time_bucketed"})


class Collected:
    """A collected result in the shape verify.compare reads (rows and
    column names), so checking needs no second Spark round trip."""

    def __init__(self, rows: list, columns: list[str]):
        self.rows, self.columns = rows, columns

    def collect(self) -> list:
        return self.rows


class Analytics:
    name = "analytics"

    def generate(self, seed: int, data_dir: str) -> dict:
        return gen.write_tpch(data_dir, seed)

    def setup(self, ctx) -> None:
        from nyc_analytics_database_platform_spark import registry
        from nyc_analytics_database_platform_spark.catalog import clear_engine_state

        self.specs = {n: registry.get(n) for n in QUERIES}
        self.clear = clear_engine_state
        self.sink = os.path.join(ctx.run_dir, "sink")

    def _query(self, ctx, name: str):
        tr = ctx.tracer
        with tr.span("queries.build", "queries"):
            df = self.specs[name].fn(ctx.spark, ctx.data_dir)
        with tr.span("queries.materialize", "queries"):
            if name in SINK:
                path = os.path.join(self.sink, name)
                df.write.mode("overwrite").parquet(path)
                return ("sink", path)
            return ("rows", df.collect(), df.columns)

    def run(self, ctx) -> None:
        self.results = {}
        t0 = time.perf_counter()
        while True:
            for name in QUERIES:
                ok, res = ctx.timed("read", name, self._query, ctx, name)
                if ok:
                    self.results[name] = res
                self.clear(ctx.spark)
            if time.perf_counter() - t0 >= ctx.seconds:
                break
        ctx.measured_s = time.perf_counter() - t0

    def check(self, ctx) -> None:
        from nyc_analytics_database_platform_spark import verify

        spark = ctx.spark
        for name, res in sorted(self.results.items()):
            if res[0] == "sink":
                df = spark.read.parquet(res[1])
            else:
                df = Collected(res[1], res[2])
            oracle_sql = self.specs[name].oracle
            if oracle_sql is None:
                if not df.collect():
                    ctx.fail(f"{name}: empty result and no oracle")
                continue
            r = verify.compare(name, df, oracle_sql, ctx.data_dir)
            if not r:
                ctx.fail(f"{name}: {r.detail} (spark {r.spark_rows} rows, oracle {r.oracle_rows})")
        ctx.stored_bytes = sum(
            os.path.getsize(os.path.join(ctx.data_dir, f))
            for f in os.listdir(ctx.data_dir) if f.endswith(".parquet"))
