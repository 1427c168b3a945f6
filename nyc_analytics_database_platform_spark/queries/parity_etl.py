"""Driver-attested ETL / sink / curation surfaces (SURVEY.md section 2.1
S2/S5/S6 and the corpus-curation composite).

These surfaces were previously pytest-only; each is registered here as a
`queries()` entry so the grading driver attests them too. The sink queries
round-trip a table through the distributed writer and read it back; the
compared columns are integrity aggregates (counts + order-independent
checksums) that a DuckDB oracle computes directly from the source table -
a hash match proves the write -> read cycle was lossless.

Scale note: the roundtrips run through the same `sources/` code paths used
for real exports (partitioned writes, schema-on-read, no inference pass);
the aggregates are map-side-combinable, so the attestation query itself is
scan-shaped, not a collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_analytics_database_platform_spark import layouts
from nyc_analytics_database_platform_spark.catalog import load
from nyc_analytics_database_platform_spark.functions.numeric import ORACLE_SUM, exact_sum
from nyc_analytics_database_platform_spark.registry import register


def _scratch(sf_dir: str, name: str) -> str:
    """Per-(sf_dir, surface) scratch path: deterministic so reruns overwrite,
    sf-keyed so results read the files written for the same scale factor
    (single implementation: layouts.scratch)."""
    return layouts.scratch(sf_dir, "etl", name)


_ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


@register(
    "etl_csv_roundtrip",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               {ORACLE_SUM.format(col="o_totalprice")} AS revenue,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
               MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
               MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_day
        FROM orders
    """,
    tags=("S2", "S5", "etl", "sink"),
)
def etl_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema-on-read source attestation: write the orders table
    through the distributed CSV sink, read it back through the ETL reader
    (declared schema, no inference pass), and emit integrity aggregates the
    oracle computes from the source parquet. Hash match = lossless
    round-trip including timestamps and doubles."""
    from nyc_analytics_database_platform_spark.sources.csv_etl import read_csv
    from nyc_analytics_database_platform_spark.sources.sinks import write_csv

    path = _scratch(sf_dir, "csv_orders")
    write_csv(load(spark, sf_dir, "orders"), path)
    back = read_csv(spark, path, _ORDERS_SCHEMA)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        exact_sum("o_totalprice").alias("revenue"),
        F.countDistinct("o_orderstatus").alias("n_status"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_day"),
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_day"),
    )


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@register(
    "etl_json_roundtrip",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
               md5(string_agg(n_name, '|' ORDER BY n_name)) AS names_digest
        FROM nation
    """,
    tags=("S6", "etl", "sink"),
)
def etl_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sink attestation: nation -> distributed JSON write -> schema-on-
    read -> integrity aggregates (count, key sum, md5 over the sorted name
    list - order-independent, identical in DuckDB)."""
    from nyc_analytics_database_platform_spark.sources.sinks import write_json

    path = _scratch(sf_dir, "json_nation")
    write_json(load(spark, sf_dir, "nation"), path)
    back = spark.read.schema(_NATION_SCHEMA).json(path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("n_nationkey").alias("key_sum"),
        F.md5(
            F.concat_ws("|", F.sort_array(F.collect_list("n_name"))).cast("binary")
        ).alias("names_digest"),
    )


# --- MERGE / CDC upsert ------------------------------------------------------


@register(
    "merge_upsert_orders",
    oracle=f"""
        WITH upd AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 5.0 AS o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 3
        ),
        ins AS (
            SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                   'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 7
        ),
        del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 1),
        change_keys AS (
            SELECT o_orderkey FROM upd
            UNION ALL SELECT o_orderkey FROM ins
            UNION ALL SELECT o_orderkey FROM del
        ),
        merged AS (
            SELECT * FROM orders
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM change_keys)
            UNION ALL SELECT * FROM upd
            UNION ALL SELECT * FROM ins
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {ORACLE_SUM.format(col="o_totalprice")} AS revenue
        FROM merged
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("etl", "merge", "cdc"),
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-MERGE semantics as one anti-join + union (operators/merge.py):
    a deterministic CDC batch (keys %10==3 updated with a price bump,
    %10==7 re-keyed as inserts with status 'N', %10==1 deleted) applied to
    the orders snapshot, attested by per-status counts and exact revenue.
    The price bump is an IEEE-exact double ADD (never a rounded product),
    so the decimal-cast revenue stays bit-identical across engines."""
    from nyc_analytics_database_platform_spark.operators.merge import (
        OP_COL,
        merge_upsert,
    )

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    upd = (
        orders.filter(key % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(5.0))
        .withColumn(OP_COL, F.lit("U"))
    )
    ins = (
        orders.filter(key % 10 == 7)
        .withColumn("o_orderkey", key + F.lit(10000000))
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn(OP_COL, F.lit("U"))
    )
    dels = orders.filter(key % 10 == 1).withColumn(OP_COL, F.lit("D"))
    changes = upd.unionByName(ins).unionByName(dels)
    return (
        merge_upsert(orders, changes, "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --- corpus curation funnel --------------------------------------------------

_MIN_TOKENS, _MAX_PUNCT, _MAX_BIGRAM = 20, 0.2, 0.2
_NUM_PERM, _ROWS_PER_BAND, _K = 12, 2, 5


def _curation_oracle() -> str:
    """The full funnel in DuckDB: quality gate -> exact dedup -> MinHash-LSH
    candidates -> recursive connected components -> canonical survivors.
    Mirrors plans/curation.curate_corpus stage for stage."""
    sig_cols = ", ".join(
        f"MIN(md5('{p}:' || s)) AS m{p}" for p in range(_NUM_PERM)
    )
    num_bands = _NUM_PERM // _ROWS_PER_BAND
    band_cases = " ".join(
        "WHEN {b} THEN md5({cat})".format(
            b=b,
            cat=" || ".join(
                f"m{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
            ),
        )
        for b in range(num_bands)
    )
    punct = (
        "CASE WHEN length(text) > 0 THEN "
        "CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)"
        " / length(text) ELSE 0 END"
    )
    return f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        quality AS (
            SELECT doc_id, text, t FROM toks
            WHERE len(t) >= {_MIN_TOKENS} AND ({punct}) < {_MAX_PUNCT}
        ),
        keep_exact AS (
            SELECT MIN(doc_id) AS doc_id
            FROM quality GROUP BY md5(lower(trim(text)))
        ),
        exact_survivors AS (
            SELECT q.doc_id, q.t FROM quality q
            JOIN keep_exact k ON q.doc_id = k.doc_id
        ),
        bg AS (
            SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b
            FROM exact_survivors,
                 unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
        ),
        bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        bfrac AS (
            SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS f
            FROM bc GROUP BY 1
        ),
        rep_survivors AS (
            SELECT doc_id, t FROM exact_survivors
            WHERE doc_id NOT IN (SELECT doc_id FROM bfrac WHERE f > {_MAX_BIGRAM})
        ),
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+{_K - 1}], ' ') AS s
            FROM rep_survivors,
                 unnest(generate_series(1, greatest(len(t) - {_K - 1}, 0))) AS g(i)
        ),
        sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, bnd, CASE bnd {band_cases} END AS bucket
            FROM sig, (SELECT unnest(generate_series(0, {num_bands - 1})) AS bnd) g
        ),
        edges AS (
            SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
            FROM bands x
            JOIN bands y ON x.bnd = y.bnd AND x.bucket = y.bucket
                        AND x.doc_id < y.doc_id
        ),
        und AS (
            SELECT a_id AS src, b_id AS dst FROM edges
            UNION
            SELECT b_id AS src, a_id AS dst FROM edges
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM und
            UNION
            SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
        ),
        members AS (
            SELECT src AS node, dst FROM reach
            UNION
            SELECT src AS node, src AS dst FROM und
        ),
        comp AS (SELECT node, MIN(dst) AS component FROM members GROUP BY node),
        drops AS (SELECT node FROM comp WHERE node <> component),
        curated AS (
            SELECT doc_id, t FROM rep_survivors
            WHERE doc_id NOT IN (SELECT node FROM drops)
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_input,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM quality) AS n_after_quality,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_survivors) AS n_after_exact_dedup,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM rep_survivors) AS n_after_repetition,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM curated) AS n_after_near_dedup,
               (SELECT CAST(COALESCE(SUM(len(t)), 0) AS BIGINT) FROM curated) AS total_tokens
    """


@register(
    "curation_funnel_report",
    oracle=_curation_oracle(),
    tags=("llm", "curation", "composite"),
    bench=True,
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation composite (plans/curation.curate_corpus)
    as a driver-attested query: quality gate -> exact dedup -> Gopher-style
    repetition gate -> MinHash-LSH + connected-components near-dedup over the
    documents corpus, reporting the stage-by-stage funnel counts, which the
    oracle reproduces (including the recursive-CTE connected components)."""
    from nyc_analytics_database_platform_spark.plans.curation import curate_corpus

    from nyc_analytics_database_platform_spark.catalog import (
        footer_row_count,
    )

    docs = load(spark, sf_dir, "documents", parallel=True)
    # n_input from the parquet footer (driver-side metadata read, no
    # Spark job) - the same count()-avoidance discipline as the RFM
    # quintile path switch.
    n_input = footer_row_count(spark, sf_dir, "documents")
    _, report = curate_corpus(
        docs,
        min_tokens=_MIN_TOKENS,
        max_punct_ratio=_MAX_PUNCT,
        max_top_bigram_frac=_MAX_BIGRAM,
        n_input=n_input,
    )
    return spark.createDataFrame(
        [
            (
                report.n_input,
                report.n_after_quality,
                report.n_after_exact_dedup,
                report.n_after_repetition,
                report.n_after_near_dedup,
                report.total_tokens,
            )
        ],
        "n_input long, n_after_quality long, n_after_exact_dedup long, "
        "n_after_repetition long, n_after_near_dedup long, total_tokens long",
    )


@register(
    "etl_orc_roundtrip",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS key_sum,
               CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               md5(string_agg(sub, '|' ORDER BY sub)) AS text_digest
        FROM (
            SELECT doc_id, n_chars, lang,
                   substr(text, 1, 16) || CAST(doc_id AS VARCHAR) AS sub
            FROM documents
        )
    """,
    tags=("S2", "etl", "sink", "orc"),
)
def etl_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source attestation (the third columnar format beside
    parquet and CSV): documents -> distributed ORC write -> read back ->
    integrity aggregates including an order-independent md5 digest over
    (text prefix || doc_id), which catches any row-content corruption the
    count/sum aggregates would miss. Hash match vs the oracle computed on
    the source parquet = lossless round-trip."""
    path = _scratch(sf_dir, "orc_documents")
    docs = load(spark, sf_dir, "documents")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    sub = F.concat(
        F.substring("text", 1, 16), F.col("doc_id").cast("string")
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("doc_id").alias("key_sum"),
        F.sum("n_chars").alias("chars_sum"),
        F.countDistinct("lang").alias("n_langs"),
        F.md5(
            F.concat_ws("|", F.sort_array(F.collect_list(sub))).cast("binary")
        ).alias("text_digest"),
    )


@register(
    "layout_partition_pruned_read",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-03', '1996-04')
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("layout", "partition-pruning", "S1"),
)
def layout_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout attestation: orders written month-partitioned
    through sources/layout.write_partitioned, then read back with a
    partition-key predicate. The month filter resolves against DIRECTORY
    NAMES (PartitionFilters in the scan, asserted by
    tests/test_partitioned_layout.py) - at 100 TB the two-month read touches
    2/~80 of the files and the rest are never opened. The oracle computes
    the same two months from the unpartitioned source, so a hash match
    proves the layout round-trip loses nothing."""
    from nyc_analytics_database_platform_spark.sources.layout import (
        write_partitioned,
    )

    path = _scratch(sf_dir, "orders_by_month")
    orders = load(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    write_partitioned(orders, path, ["order_month"])
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("order_month").isin("1996-03", "1996-04"))
        .groupBy("order_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("order_month")
    )


@register(
    "schema_evolution_merged_read",
    oracle="""
        WITH gen1 AS (
            SELECT o_orderkey, o_totalprice, NULL AS priority_tag
            FROM orders WHERE o_orderkey % 2 = 0
        ),
        gen2 AS (
            SELECT o_orderkey, o_totalprice, o_orderpriority AS priority_tag
            FROM orders WHERE o_orderkey % 2 = 1
        ),
        merged AS (SELECT * FROM gen1 UNION ALL SELECT * FROM gen2)
        SELECT COALESCE(priority_tag, '<pre-evolution>') AS priority_tag,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
        FROM merged
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("S1", "etl", "schema-evolution"),
)
def schema_evolution_merged_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only schema evolution attested end to end: generation 1 is
    written WITHOUT the priority_tag column, generation 2 WITH it; a single
    mergeSchema read returns one frame where pre-evolution rows carry NULL.
    The aggregate fills those with a sentinel so the oracle (UNION ALL of
    the two generations) reproduces the exact same grouping. At 100 TB this
    is the contract that lets a column ship without rewriting history."""
    from nyc_analytics_database_platform_spark.functions.numeric import exact_sum

    base = _scratch(sf_dir, "orders_evolution")
    orders = load(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(base + "/gen=1")
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").alias("priority_tag"),
    ).write.mode("overwrite").parquet(base + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=1", base + "/gen=2"
    )
    return (
        merged.groupBy(
            F.coalesce("priority_tag", F.lit("<pre-evolution>")).alias(
                "priority_tag"
            )
        )
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("priority_tag")
    )


_FK_RELATIONS = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "referential_integrity_audit",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{child}.{ck} -> {parent}.{pk}' AS relationship,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child_rows,
               CAST((SELECT COUNT(*) FROM {child} c
                     WHERE c.{ck} IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM {parent} p
                                       WHERE p.{pk} = c.{ck})) AS BIGINT)
                   AS n_orphans,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
                WHERE {ck} IS NULL) AS n_null_fk
        """
        for child, ck, parent, pk in _FK_RELATIONS
    )
    + " ORDER BY relationship",
    tags=("quality", "F9", "etl"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK referential-integrity audit over every schema relationship - the
    engine-side reproduction of the reference's FK constraints
    (schema.sql:60-64; Spark enforces nothing, so integrity is a QUERY).
    Per relationship: child rows, orphans (non-NULL FK with no parent -
    a left-anti join, the scalable spelling of NOT EXISTS), and NULL FKs
    (legal under the reference's `on delete set null`). Every parent side
    here is broadcastable or joins on its primary key; at 100 TB each
    audit row is one anti-join whose parent side ships its key column
    only."""
    from functools import reduce

    reports = []
    for child, ck, parent, pk in _FK_RELATIONS:
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("__pk"))
        n_child = c.agg(F.count("*").alias("n")).select(
            F.lit(f"{child}.{ck} -> {parent}.{pk}").alias("relationship"),
            F.col("n").alias("n_child_rows"),
        )
        orphans = (
            c.filter(F.col(ck).isNotNull())
            .join(p, c[ck] == p["__pk"], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
        )
        nulls = c.filter(F.col(ck).isNull()).agg(F.count("*").alias("n_null_fk"))
        reports.append(n_child.crossJoin(orphans).crossJoin(nulls))
    return reduce(DataFrame.unionByName, reports).orderBy("relationship")


@register(
    "cascade_delete_audit",
    oracle="""
        WITH dc AS (
            SELECT c_custkey FROM customer
            WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal < 0
        ),
        oc AS (
            SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM dc)
        ),
        lc AS (
            SELECT l_orderkey FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM oc)
        )
        SELECT 'customer' AS table_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_cascade
        UNION ALL
        SELECT 'lineitem', (SELECT CAST(COUNT(*) AS BIGINT) FROM lc)
        UNION ALL
        SELECT 'orders', (SELECT CAST(COUNT(*) AS BIGINT) FROM oc)
        ORDER BY table_name
    """,
    tags=("quality", "F9", "etl", "lifecycle"),
)
def cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON DELETE CASCADE impact pre-audit - the dry-run a warehouse runs
    before honoring a deletion request (GDPR erasure, account closure)
    against the reference's cascade DDL (schema.sql:60-64: Service_Request
    cascades from Geographic_Area/Agency the way lineitem cascades from
    orders here). Given the deletion predicate (negative-balance
    AUTOMOBILE customers), report how many rows each dependent table
    would lose: orders via the customer FK, lineitem transitively via the
    order FK - the FK graph walked root-to-leaf.

    Scale: each level is one LEFT SEMI join keyed on the FK; the deletion
    key set broadcasts while small and degrades to a shuffle semi join at
    scale; the transitive level semi-joins lineitem against the CASCADED
    ORDER KEYS (already key-only), never against customers. The actual
    delete is these semi joins flipped to anti joins + a rewrite
    (merge_upsert_orders shows that write path); `set null` FKs
    (schema.sql:61) instead become a conditional update - audited by
    referential_integrity_audit's n_null_fk column."""
    cust = load(spark, sf_dir, "customer")
    del_cust = cust.filter(
        (F.col("c_mktsegment") == "AUTOMOBILE") & (F.col("c_acctbal") < 0)
    ).select("c_custkey")
    orders = load(spark, sf_dir, "orders")
    oc = orders.join(
        F.broadcast(del_cust), orders.o_custkey == del_cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    li = load(spark, sf_dir, "lineitem")
    lc = li.join(F.broadcast(oc), li.l_orderkey == oc.o_orderkey, "left_semi")
    rows = [
        del_cust.agg(F.count("*").alias("n_cascade")).select(
            F.lit("customer").alias("table_name"), "n_cascade"
        ),
        lc.agg(F.count("*").alias("n_cascade")).select(
            F.lit("lineitem").alias("table_name"), "n_cascade"
        ),
        oc.agg(F.count("*").alias("n_cascade")).select(
            F.lit("orders").alias("table_name"), "n_cascade"
        ),
    ]
    from functools import reduce

    return reduce(DataFrame.unionByName, rows).orderBy("table_name")


@register(
    "dedup_rate_by_source",
    oracle="""
        WITH d AS (
            SELECT source, md5(text) AS digest
            FROM documents WHERE text IS NOT NULL
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_distinct,
               round(1.0 - COUNT(DISTINCT digest) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS dup_rate
        FROM d
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "dedup", "monitoring"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate mass per source - the dedup-diagnostics view that
    tells a crawl operator WHERE duplicate bytes come from (feeds source
    weighting and crawl scheduling). One digest per doc, one
    (source)-keyed aggregate with COUNT(DISTINCT digest) - at 100 TB the
    distinct count per source is the expensive half and gets the same
    exact/approx twin policy as corpus_ngram_diversity."""
    d = (
        load(spark, sf_dir, "documents", parallel=True)
        .filter(F.col("text").isNotNull())
        .select("source", F.md5("text").alias("digest"))
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("digest").alias("n_distinct"),
            F.round(
                1.0 - F.countDistinct("digest") / F.count("*").cast("double"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )
