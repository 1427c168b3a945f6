"""End-to-end training-data curation pipeline - the composite that ties the
LLM operators together the way a real corpus pipeline runs them:

    raw documents
      -> quality gate        (length + punctuation heuristics, cheap first)
      -> exact dedup         (md5 digest groups, cheapest dedup pass)
      -> repetition gate     (Gopher-style top-bigram fraction; the explode
                              runs only on exact-dedup survivors)
      -> near-dup removal    (MinHash-LSH candidates -> connected
                              components -> keep each cluster's min id)
      -> stats + curated set (token counts for cost accounting)

Ordering matters at 100 TB: each stage shrinks the corpus before the next,
more expensive one runs; the near-dup stage only sees quality-passing,
exactly-deduplicated survivors. Every stage is one of the independently
oracle-verified operators - this plan only composes them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark.functions.text import punct_ratio, ws_tokens
from nyc_analytics_database_platform_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
)
from nyc_analytics_database_platform_spark.operators.graph import connected_components


@dataclass
class CurationReport:
    n_input: int
    n_after_quality: int
    n_after_exact_dedup: int
    n_after_repetition: int
    n_after_near_dedup: int
    total_tokens: int


def curate_corpus(
    docs: DataFrame,
    min_tokens: int = 20,
    max_punct_ratio: float = 0.2,
    max_top_bigram_frac: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_input: int | None = None,
) -> tuple[DataFrame, CurationReport]:
    """Returns (curated docs DataFrame, stage-by-stage report).

    `n_input` lets a caller that already knows the corpus row count (e.g.
    catalog.footer_row_count, a footer read on flat layouts) skip the
    count() job; None keeps the self-contained behavior."""
    if n_input is None:
        n_input = docs.count()

    # 1. quality gate (narrow per-row expressions, no shuffle). The cached
    # tokenized survivors are the ONE heavy materialization every later
    # branch reads — digest groups, bigram stats, minhash, and the report
    # aggregate all start here instead of re-scanning the corpus.
    toks = docs.withColumn("_toks", ws_tokens(text_col))
    quality = toks.filter(
        (F.size("_toks") >= min_tokens) & (punct_ratio(text_col) < max_punct_ratio)
    ).cache()

    # 2. exact dedup: keep each digest group's canonical (min) id. Cached:
    # the key set feeds both the next stage's lineage and the report flags.
    keep_exact = exact_dedup_groups(quality, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    ).cache()
    exact_survivors = quality.join(keep_exact, id_col, "left_semi")

    # 3. repetition gate (Gopher-style): drop docs whose most common bigram
    # exceeds the fraction threshold. The explode only runs on exact-dedup
    # survivors; docs with <2 tokens have no bigrams and pass.
    from nyc_analytics_database_platform_spark.functions.text import shingles

    bfrac = (
        exact_survivors.select(id_col, F.explode(shingles("_toks", 2)).alias("_b"))
        .groupBy(id_col, "_b")
        .count()
        .groupBy(id_col)
        .agg((F.max("count").cast("double") / F.sum("count")).alias("_f"))
    )
    rep_drops = bfrac.filter(
        F.col("_f") > max_top_bigram_frac
    ).select(id_col).cache()
    rep_survivors = exact_survivors.join(rep_drops, id_col, "left_anti")

    # 4. near-dup removal: LSH candidates -> components -> drop non-canonical
    from nyc_analytics_database_platform_spark.catalog import capture_plan

    sigs = minhash_signatures(rep_survivors, num_perm=12, k=5, id_col=id_col)
    pairs = lsh_candidate_pairs(sigs, num_perm=12, rows_per_band=2, id_col=id_col)
    capture_plan(pairs, "lsh_pairs")
    components = connected_components(pairs)
    capture_plan(components, "cc_components")
    drops = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )

    # The whole funnel report in ONE aggregate (round 13; was five
    # sequential count() actions): each stage's SMALL key set left-joins
    # onto the cached quality frame as a flag, and the stage counts nest by
    # definition (kept ⊇ kept∧rep-clean ⊇ survivors). ~0.5s of pure driver
    # dispatch off the composite at sf0.1; the heavy lineage (tokenize,
    # digest, bigrams, LSH) runs exactly as often as before.
    flagged = (
        quality.select(id_col, F.size("_toks").alias("_n"))
        .join(keep_exact.withColumn("_e", F.lit(1)), id_col, "left")
        .join(rep_drops.withColumn("_r", F.lit(1)), id_col, "left")
        .join(drops.withColumn("_d", F.lit(1)), id_col, "left")
    )
    kept = F.col("_e").isNotNull()
    rep_ok = F.col("_r").isNull()
    near_ok = F.col("_d").isNull()
    surv = kept & rep_ok & near_ok
    capture_plan(flagged, "report_flags")
    row = flagged.agg(
        F.count("*").alias("nq"),
        F.sum(kept.cast("long")).alias("ne"),
        F.sum((kept & rep_ok).cast("long")).alias("nr"),
        F.sum(surv.cast("long")).alias("nn"),
        F.sum(F.when(surv, F.col("_n")).otherwise(F.lit(0))).alias("tok"),
    ).collect()[0]

    curated = rep_survivors.join(drops, id_col, "left_anti")
    return curated.drop("_toks"), CurationReport(
        n_input=n_input,
        n_after_quality=row["nq"],
        n_after_exact_dedup=row["ne"],
        n_after_repetition=row["nr"],
        n_after_near_dedup=row["nn"],
        total_tokens=int(row["tok"] or 0),
    )
