"""Connected components over a pair/edge list - the clustering step that
turns near-duplicate PAIRS (from MinHash/SimHash/ngram dedup) into
duplicate GROUPS with one canonical representative each.

Algorithm: iterative min-label propagation (the standard large-scale
approach - a sequence of hash joins + min-aggregations, no driver-side graph
state). Each round every node adopts the smallest label among itself and its
neighbors; rounds repeat until a fixpoint. Round count is bounded by the
cluster diameter (near-dup clusters are tiny), and each round is two
shuffles: join labels->edges, then groupBy min.

At 100 TB: edges and labels are both DataFrames partitioned on node id, the
join is shuffle-hash on that key, and convergence checks are cheap count
aggregates. Per-round persist() (with the convergence probe as the
materializing action) truncates effective lineage via cache substitution,
so plans do not grow with iteration count and each round costs one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def incremental_components(
    old_assign: DataFrame,
    new_edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Maintain a connected-components assignment under NEW edges without
    re-clustering the full graph - the production mode for a growing
    near-dup corpus (you never re-run CC over 100 TB for a daily
    increment).

    Inputs: `old_assign` (node, component) - the persisted result of a
    prior run (component = min node id, every member labeled) - and
    `new_edges` - candidate pairs involving at least one new node.

    Work is bounded by |increment| + |touched components|, NOT corpus
    size:
      1. components TOUCHED by any new edge are found with one semi-join;
      2. their membership is re-expressed as STAR edges (member ->
         component) - a lossless, diameter-2 summary of all old edges
         inside those components;
      3. plain CC runs over (new edges UNION star edges) - converging in
         a couple of pointer-jump rounds because stars are shallow;
      4. untouched components pass through unchanged.

    The output is IDENTICAL to a full CC re-run over (old edges UNION new
    edges): a star summary preserves connectivity inside each old
    component exactly, and components untouched by any new edge cannot
    change (property-tested against the full recompute in
    tests/test_r3_scale_ops.py; the registered query's oracle is the full
    recursive CTE over ALL edges)."""
    new_nodes = (
        new_edges.select(F.col(a_col).alias("node"))
        .union(new_edges.select(F.col(b_col).alias("node")))
        .distinct()
    )
    touched = (
        old_assign.join(new_nodes, "node", "left_semi")
        .select("component")
        .distinct()
    )
    members = old_assign.join(touched, "component", "left_semi")
    star = members.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(a_col), F.col("component").alias(b_col)
    )
    merged = connected_components(
        new_edges.select(a_col, b_col).union(star),
        a_col,
        b_col,
        max_iterations,
    )
    untouched = old_assign.join(touched, "component", "left_anti")
    return untouched.select("node", "component").unionByName(merged)


def pagerank_loop(
    adj: DataFrame,
    n_nodes: int,
    damping: float = 0.85,
    eps_nano: int = 100_000,
    max_iterations: int = 8,
) -> tuple[DataFrame, int]:
    """Convergence-aware PageRank over an adjacency-list frame
    (src, dsts array, d degree): iterate the synchronous update until the
    L1 rank delta drops below eps, or the iteration cap.

    The stop rule is CROSS-ENGINE DETERMINISTIC by construction: the delta
    is summed in integer NANO-units - per node,
    CAST(ROUND(|r_k - r_{k-1}| * 1e9) AS BIGINT) - so the convergence test
    is an exact order-independent integer comparison (a raw double L1 sum
    is partial-order-dependent in the last ulp and could stop the two
    engines at different iterations). eps_nano=100_000 is L1 < 1e-4.

    Per iteration: one message-aggregation shuffle (the adjacency frame
    never re-shuffles) materialized into a per-round cache by the tiny
    delta aggregate (one job per round). At 100 TB the cap is the budget control: damping
    0.85 contracts the L1 error by at most 0.85x per round (the worst
    case, realized by bipartite/periodic structure; well-mixed graphs
    contract much faster), so eps >= 2 * 0.85^k bounds the rounds needed -
    ~57 for 1e-4 from a cold start, a handful when warm-started from a
    prior snapshot's ranks; runs are launched with the cap, not
    open-ended, and the returned iteration count is the audit trail.

    Returns (ranks DataFrame (node, rank), iterations_run). No dangling
    nodes assumed (every src appears as a dst), as holds for undirected
    graphs."""
    ranks = (
        adj.select(F.col("src").alias("node"), (F.lit(1.0) / n_nodes).alias("rank"))
        .localCheckpoint(eager=True)
    )
    iters = 0
    # Per-round materialization is the persist -> probe -> lazy-checkpoint
    # SANDWICH (see connected_components for the full rationale): one job
    # per round instead of the r13 shape's two, with lineage cut to a
    # LogicalRDD that inherits the materialized cache's REAL stats.
    prev_cached: DataFrame | None = None
    for _ in range(max_iterations):
        contrib = adj.join(ranks, adj.src == ranks.node).select(
            F.explode("dsts").alias("dst"),
            (F.col("rank") / F.col("d")).alias("w"),
        )
        new_ranks = (
            contrib.groupBy("dst")
            .agg(
                (
                    F.lit((1 - damping) / n_nodes) + damping * F.sum("w")
                ).alias("rank")
            )
            .withColumnRenamed("dst", "node")
            .persist()
        )
        delta_nano = (
            new_ranks.alias("n")
            .join(ranks.alias("o"), "node")
            .agg(
                F.sum(
                    F.round(
                        F.abs(F.col("n.rank") - F.col("o.rank")) * 1e9
                    ).cast("long")
                ).alias("d")
            )
            .collect()[0]["d"]
        )
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = new_ranks
        ranks = new_ranks.localCheckpoint(eager=False)
        iters += 1
        if delta_nano is not None and delta_nano < eps_nano:
            break
    return ranks, iters


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) for every node in the edge list; component = min
    node id in the connected component. Deterministic."""
    both = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    both = both.distinct().localCheckpoint(eager=True)

    labels = (
        both.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    converged = False
    # Convergence probe: labels only ever DECREASE (min-propagation), so the
    # total of all labels is strictly decreasing until the fixpoint; an
    # unchanged total means no node changed. decimal(38,0) so the probe
    # cannot overflow however large the node-id space.
    #
    # Per-round materialization is the persist -> probe -> lazy-checkpoint
    # SANDWICH: ONE job per round where the r13 shape paid two (eager
    # localCheckpoint job, then the probe re-reading its blocks).
    #   1. persist() the round, 2. run the probe aggregate as the
    #   materializing action (fills the cache), 3. localCheckpoint(False)
    #   ON the materialized cache - no job (only eager counts), and the
    #   resulting LogicalRDD leaf inherits the cache's REAL
    #   InMemoryRelation stats, so AQE join selection is unchanged.
    # Each half exists to dodge a measured failure mode: a lazy checkpoint
    # alone is a stats-less LogicalRDD (AQE lost broadcast evidence -
    # 67s-cold blowups, reverted in r13), and persist alone leaves the full
    # logical chain in every downstream frame, whose nested
    # InMemoryRelation plan STRINGS double per round (2 GiB explain at the
    # pagerank cap - measured this round). The sandwich cuts lineage to a
    # constant-size leaf per round (optimized plan length measured flat
    # across 14 rounds) while keeping materialized-size stats. The previous
    # round's cache unpersists as soon as its successor is materialized;
    # its checkpoint blocks were written by that same probe job.
    prev_total = None
    prev_cached: DataFrame | None = None
    for _ in range(max_iterations):
        neighbor_labels = (
            both.join(labels, both.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        propagated = (
            labels.select("node", "label")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # Pointer jumping: node.label <- prev_label(node.label). Plain
        # neighbor propagation moves the minimum ONE hop per round (linear in
        # the component diameter); composing with the label mapping doubles
        # the reach per round, giving O(log diameter) convergence - the
        # standard large-scale CC acceleration. The mapping is built from the
        # PREVIOUS round's labels (already checkpoint-materialized), so
        # propagate + jump fuse into one plan with a single materialization
        # per round instead of two.
        mapping = labels.select(
            F.col("node").alias("_mn"), F.col("label").alias("_ml")
        )
        new_labels = (
            propagated.join(mapping, propagated.label == F.col("_mn"), "left")
            .select(
                "node", F.coalesce(F.col("_ml"), F.col("label")).alias("label")
            )
            .persist()
        )
        if prev_total is None:
            # profiler hook: the first round's propagate+jump plan is the
            # real per-round CC evidence (the loop's output frame is a
            # LogicalRDD leaf) - no-op outside qprof --capture-internal
            from nyc_analytics_database_platform_spark.catalog import capture_plan

            capture_plan(new_labels, "cc_round1")
        total = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("t")
        ).collect()[0][0]
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = new_labels
        labels = new_labels.localCheckpoint(eager=False)
        if total == prev_total:
            converged = True
            break
        prev_total = total
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (component diameter exceeds the bound); raise "
            "max_iterations - silently returning partial labels would keep "
            "multiple 'canonical' docs per real cluster"
        )
    return labels.select("node", F.col("label").alias("component"))


def kcore_members(
    edges: DataFrame,
    k: int,
    rounds: int,
    a_col: str = "s1",
    b_col: str = "s2",
) -> DataFrame:
    """k-core of an undirected edge list: iteratively peel nodes whose
    degree within the surviving set is < k; after `rounds` peels, emit the
    surviving (node, core_degree) rows. `rounds` must reach the fixpoint
    for the true k-core (callers assert rounds-1 == rounds on their data;
    each peel removes at least one node until the fixpoint, so
    rounds >= |nodes| always suffices and real graphs converge in a
    handful of waves).

    Scale: each round is two node-set semi-joins + one degree aggregate
    over the CURRENT edge subset; an eager localCheckpoint of each round's
    surviving node set truncates lineage, so round r plans against
    materialized nodes, not r nested peels. The node set only shrinks, so
    per-round cost is monotone non-increasing."""
    und = edges.select(
        F.col(a_col).alias("node"), F.col(b_col).alias("other")
    ).unionByName(
        edges.select(F.col(b_col).alias("node"), F.col(a_col).alias("other"))
    ).localCheckpoint(eager=True)
    nodes = und.select("node").distinct()
    for _ in range(rounds):
        deg = (
            und.join(nodes, "node")
            .join(nodes.select(F.col("node").alias("other")), "other")
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        nodes = (
            deg.filter(F.col("d") >= k)
            .select("node")
            .localCheckpoint(eager=True)
        )
    return (
        und.join(nodes, "node")
        .join(nodes.select(F.col("node").alias("other")), "other")
        .groupBy("node")
        .agg(F.count("*").alias("core_degree"))
    )
