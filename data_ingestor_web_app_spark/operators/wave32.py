"""Wave-32: Gopher quality rules, mixture temperature sampling, full
MERGE action matrix, nested-struct pruning, one-way ANOVA, RFM segments.

The LLM-pipeline additions implement PUBLISHED filter/sampling recipes
(Gopher rules from Rae et al. 2021 §A1.1; temperature-scaled mixture
sampling from the multilingual T5/mT5 papers) so a reference user's data
curation stack maps 1:1. The relational additions close the MERGE action
matrix (matched-update / matched-delete / not-matched-insert /
not-matched-by-source-delete) and pin nested-struct schema pruning as a
plan-shape guarantee.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_gopher_rules",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, text, STRING_SPLIT(text, ' ') AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang,
               LEN(t) AS n_words,
               ROUND(CAST(LEN(REPLACE(text, ' ', '')) AS DOUBLE) / LEN(t), 4)
                   AS mean_word_len,
               ROUND(CAST(LEN(LIST_FILTER(t, w -> w LIKE '#%')) AS DOUBLE)
                     / LEN(t), 4) AS hash_ratio,
               ROUND(CAST(LEN(LIST_FILTER(t, w -> w LIKE '...%')) AS DOUBLE)
                     / LEN(t), 4) AS ellipsis_ratio,
               CAST(LEN(LIST_FILTER(t,
                    w -> w IN ('the', 'be', 'to', 'of', 'and'))) AS BIGINT)
                   AS n_required_stop
        FROM toks
    )
    SELECT doc_id, lang, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
           n_required_stop,
           CAST(n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3 AND 10
                AND hash_ratio <= 0.1
                AND ellipsis_ratio <= 0.1
                AND n_required_stop >= 2 AS BOOLEAN) AS keep
    FROM feats
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, §A1.1,
    public): word-count bounds, mean-word-length band, symbol-to-word
    ratios (#, …), and required-stopword presence — each doc gets its
    feature row plus the final keep verdict. The industry-standard cheap
    pre-filter that runs BEFORE any model-based scoring in a training
    pipeline.

    Scale shape: one scan, pure per-row JVM expressions (split + filter
    higher-order functions) — no shuffle, no UDF; the verdict is a
    pushdown-able predicate for the downstream corpus build."""
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n_words = F.size(t)
    mean_wl = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words, 4
    )
    hash_ratio = F.round(
        F.size(F.filter(t, lambda w: w.startswith("#"))).cast("double") / n_words, 4
    )
    ellipsis_ratio = F.round(
        F.size(F.filter(t, lambda w: w.startswith("..."))).cast("double") / n_words, 4
    )
    n_stop = F.size(
        F.filter(t, lambda w: w.isin("the", "be", "to", "of", "and"))
    ).cast("long")
    feats = d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        hash_ratio.alias("hash_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        n_stop.alias("n_required_stop"),
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("hash_ratio") <= 0.1)
        & (F.col("ellipsis_ratio") <= 0.1)
        & (F.col("n_required_stop") >= 2)
    )
    return feats.withColumn("keep", keep)


@query(
    "pipeline_mixture_temperature",
    oracle="""
    WITH per AS (
        SELECT source, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS all_tokens FROM per),
    p AS (
        SELECT source, tokens, tokens * 1.0 / all_tokens AS p_raw
        FROM per, tot
    ),
    heated AS (
        SELECT source, tokens, p_raw, POWER(p_raw, 0.3) AS w
        FROM p
    ),
    z AS (SELECT SUM(w) AS sw FROM heated)
    SELECT source, tokens,
           ROUND(p_raw, 6) AS p_raw,
           ROUND(w / sw, 6) AS p_sampled,
           ROUND((w / sw) / p_raw, 4) AS upsample_factor
    FROM heated, z
    """,
)
def pipeline_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (mT5-style, public): sampling
    probability ∝ p^α with α = 0.3 flattens the source distribution so
    low-resource sources are up-sampled — p_raw, the re-normalized
    p_sampled, and each source's upsample factor. The knob every
    multilingual / multi-source training mix exposes.

    Scale shape: token counting is one map-side-combined groupBy; the
    mixture math runs on the |sources|-row frame (broadcast scalar for
    the normalizer)."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens")
    )
    tot = per.agg(F.sum("tokens").cast("long").alias("all_tokens"))
    p = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        (F.col("tokens") * 1.0 / F.col("all_tokens")).alias("p_raw"),
    )
    heated = p.select("source", "tokens", "p_raw", F.pow("p_raw", F.lit(0.3)).alias("w"))
    z = heated.agg(F.sum("w").alias("sw"))
    return heated.crossJoin(F.broadcast(z)).select(
        "source",
        "tokens",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.col("w") / F.col("sw"), 6).alias("p_sampled"),
        F.round((F.col("w") / F.col("sw")) / F.col("p_raw"), 4).alias("upsample_factor"),
    )


@query(
    "upsert_merge_actions",
    oracle="""
    WITH src AS (
        SELECT o_orderkey AS key,
               CASE WHEN o_orderkey % 3 = 0 THEN 'delete' ELSE 'upsert' END AS action,
               ROUND(o_totalprice + 500.0, 2) AS new_price
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey + 3000000000, 'upsert', ROUND(o_totalprice, 2)
        FROM orders WHERE o_orderkey % 100 = 1
    )
    SELECT COALESCE(s.key, t.o_orderkey) AS o_orderkey,
           CASE WHEN t.o_orderkey IS NULL THEN 'N'
                ELSE t.o_orderstatus END AS o_orderstatus,
           ROUND(CASE WHEN s.key IS NOT NULL AND s.action = 'upsert'
                      THEN s.new_price
                      ELSE t.o_totalprice END, 2) AS o_totalprice
    FROM orders t
    FULL OUTER JOIN src s ON s.key = t.o_orderkey
    WHERE NOT (s.key IS NOT NULL AND t.o_orderkey IS NOT NULL
               AND s.action = 'delete')       /* WHEN MATCHED AND delete */
      AND NOT (s.key IS NULL AND t.o_orderkey % 1000 = 999)
                                  /* WHEN NOT MATCHED BY SOURCE + cond */
    """,
)
def upsert_merge_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MERGE action matrix in one declarative plan:
    WHEN MATCHED AND action='delete' → DELETE;
    WHEN MATCHED → UPDATE price;
    WHEN NOT MATCHED → INSERT;
    WHEN NOT MATCHED BY SOURCE AND key%1000=999 → DELETE (retention rule).
    Composed as one full-outer join + predicate/projection — the exact
    relational algebra every lakehouse MERGE compiles to, so semantics
    are pinned without a table-format dependency.

    Scale shape: one key-equi full-outer shuffle; all four actions ride
    the same join (never four passes); with bucketed storage the join is
    co-partitioned."""
    t = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    src = (
        t.where(F.col("o_orderkey") % 2 == 0)
        .select(
            F.col("o_orderkey").alias("key"),
            F.when(F.col("o_orderkey") % 3 == 0, "delete").otherwise("upsert").alias("action"),
            F.round(F.col("o_totalprice") + 500.0, 2).alias("new_price"),
        )
        .unionByName(
            t.where(F.col("o_orderkey") % 100 == 1).select(
                (F.col("o_orderkey") + 3000000000).alias("key"),
                F.lit("upsert").alias("action"),
                F.round("o_totalprice", 2).alias("new_price"),
            )
        )
    )
    j = t.join(src, t.o_orderkey == src.key, "full_outer")
    matched_delete = src.key.isNotNull() & t.o_orderkey.isNotNull() & (F.col("action") == "delete")
    unmatched_by_source_delete = src.key.isNull() & (t.o_orderkey % 1000 == 999)
    return (
        j.where(~matched_delete & ~unmatched_by_source_delete)
        .select(
            F.coalesce(src.key, t.o_orderkey).alias("o_orderkey"),
            F.when(t.o_orderkey.isNull(), "N").otherwise(t.o_orderstatus).alias("o_orderstatus"),
            F.round(
                F.when(
                    src.key.isNotNull() & (F.col("action") == "upsert"), F.col("new_price")
                ).otherwise(t.o_totalprice),
                2,
            ).alias("o_totalprice"),
        )
    )


@query(
    "scan_nested_pruning",
    oracle="""
    SELECT c_custkey,
           c_name AS profile_name,
           ROUND(c_acctbal, 2) AS balance
    FROM customer WHERE c_nationkey < 10
    """,
)
def scan_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct schema pruning: customer is rewritten with its
    attributes packed into a struct column (profile.name, profile.balance,
    profile.segment, profile.nation), then a query selects TWO leaf fields
    — the parquet ReadSchema must contain only those leaves (asserted in
    tests/test_wave32.py), proving nested column pruning and predicate
    pushdown through the struct. At 100 TB the difference is reading 2
    leaf columns instead of the whole struct blob.

    Scale shape: write once, scan with pruned nested schema — the pattern
    for wide event/profile blobs in real telemetry tables."""
    c = table(spark, sf_dir, "customer")
    nested = c.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("balance"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation"),
        ).alias("profile"),
    )
    out = os.path.join(scratch_dir("nested_"), "customer")
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.where(F.col("profile.nation") < 10).select(
        "c_custkey",
        F.col("profile.name").alias("profile_name"),
        F.round(F.col("profile.balance"), 2).alias("balance"),
    )


@query(
    "agg_anova_oneway",
    oracle="""
    WITH v AS (
        SELECT event_type AS g, CAST(FLOOR(value) AS BIGINT) AS vi
        FROM events
    ),
    per AS (
        SELECT g, COUNT(*) AS n, CAST(SUM(vi) AS BIGINT) AS s,
               CAST(SUM(vi * vi) AS BIGINT) AS ss
        FROM v GROUP BY g
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
               COUNT(*) AS k, CAST(SUM(s) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS c
        FROM per
    ),
    shifted AS (
        SELECT k, nt, n, st - nt * c AS st_c,
               s - n * c AS s_c,
               ss - 2 * c * s + n * c * c AS ss_c
        FROM per, tot
    ),
    terms AS (
        SELECT k, nt, st_c,
               CAST(SUM(ss_c) AS BIGINT) AS sst_c,
               CAST(SUM((s_c * s_c) // n) AS BIGINT) AS q_sum,
               SUM(((s_c * s_c) % n) * 1.0 / n) AS r_frac
        FROM shifted GROUP BY k, nt, st_c
    )
    SELECT CAST(k AS BIGINT) AS k_groups, nt AS n_total,
           ROUND(((q_sum + r_frac)
                  - ((st_c * st_c) // nt + ((st_c * st_c) % nt) * 1.0 / nt))
                 / (k - 1), 4) AS ms_between,
           ROUND((sst_c - q_sum - r_frac) / (nt - k), 4) AS ms_within,
           ROUND((((q_sum + r_frac)
                   - ((st_c * st_c) // nt + ((st_c * st_c) % nt) * 1.0 / nt))
                  / (k - 1))
                 / ((sst_c - q_sum - r_frac) / (nt - k)), 6) AS f_stat
    FROM terms
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event-type groups — does the mean
    value differ by type? Determinism engineering: values floor to
    integers, every group is CENTERED by the integer grand mean (F is
    translation-invariant), and Σs²/n is decomposed as integer-quotient
    (exact BIGINT, order-free) + remainder fractions (five values < 1, so
    float accumulation order is irrelevant at the rounding precision).
    The naive SUM(s²/n) overflows double precision at s ~ 10⁹ — the 1e20
    intermediate loses the low bits both engines round differently.

    Scale shape: one map-side-combined groupBy for the per-group moments
    (k rows), everything after is scalar algebra on a k-row frame.
    Completes the hypothesis-test family (Welch t, χ², KS, U)."""
    e = table(spark, sf_dir, "events")
    v = e.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value")).cast("long").alias("vi"),
    )
    per = v.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("vi").cast("long").alias("s"),
        F.sum(F.col("vi") * F.col("vi")).cast("long").alias("ss"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.count("*").alias("k"),
        F.expr("sum(s) div sum(n)").alias("c"),
    )
    shifted = per.crossJoin(F.broadcast(tot)).select(
        "k",
        "nt",
        "n",
        (F.col("st") - F.col("nt") * F.col("c")).alias("st_c"),
        (F.col("s") - F.col("n") * F.col("c")).alias("s_c"),
        (F.col("ss") - 2 * F.col("c") * F.col("s") + F.col("n") * F.col("c") * F.col("c")).alias("ss_c"),
    )
    terms = shifted.groupBy("k", "nt", "st_c").agg(
        F.sum("ss_c").cast("long").alias("sst_c"),
        F.sum(F.expr("(s_c * s_c) div n")).cast("long").alias("q_sum"),
        F.sum(((F.col("s_c") * F.col("s_c")) % F.col("n")) * 1.0 / F.col("n")).alias("r_frac"),
    )
    between_num = (F.col("q_sum") + F.col("r_frac")) - (
        F.expr("(st_c * st_c) div nt") + ((F.col("st_c") * F.col("st_c")) % F.col("nt")) * 1.0 / F.col("nt")
    )
    ms_b = between_num / (F.col("k") - 1)
    ms_w = (F.col("sst_c") - F.col("q_sum") - F.col("r_frac")) / (F.col("nt") - F.col("k"))
    return terms.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").alias("n_total"),
        F.round(ms_b, 4).alias("ms_between"),
        F.round(ms_w, 4).alias("ms_within"),
        F.round(ms_b / ms_w, 6).alias("f_stat"),
    )


@query(
    "agg_rfm_segments",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(EPOCH(CAST(MAX(CAST(o_orderdate AS DATE)) AS TIMESTAMP))
                    / 86400 AS BIGINT) AS r_day,
               COUNT(*) AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    b AS (
        SELECT QUANTILE_CONT(r_day, 0.25) AS r25, QUANTILE_CONT(r_day, 0.5) AS r50,
               QUANTILE_CONT(r_day, 0.75) AS r75,
               QUANTILE_CONT(frequency, 0.25) AS f25, QUANTILE_CONT(frequency, 0.5) AS f50,
               QUANTILE_CONT(frequency, 0.75) AS f75,
               QUANTILE_CONT(monetary, 0.25) AS m25, QUANTILE_CONT(monetary, 0.5) AS m50,
               QUANTILE_CONT(monetary, 0.75) AS m75
        FROM per_cust
    ),
    scored AS (
        SELECT monetary,
               CASE WHEN r_day >= r75 THEN 1 WHEN r_day >= r50 THEN 2
                    WHEN r_day >= r25 THEN 3 ELSE 4 END AS r_score,
               CASE WHEN frequency >= f75 THEN 1 WHEN frequency >= f50 THEN 2
                    WHEN frequency >= f25 THEN 3 ELSE 4 END AS f_score,
               CASE WHEN monetary >= m75 THEN 1 WHEN monetary >= m50 THEN 2
                    WHEN monetary >= m25 THEN 3 ELSE 4 END AS m_score
        FROM per_cust, b
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           ROUND(SUM(monetary), 2) AS segment_revenue
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles — the
    classic marketing-warehouse operator), VALUE-BASED: the three quartile
    boundaries come from one percentile aggregate (9 scalars, broadcast)
    and each customer scores 1 (best) to 4 by comparison — no global
    NTILE sort, so nothing funnels through a single partition and ties
    land in the same bucket deterministically. Rolled up to the 4×4×4
    segment grid with headcounts and revenue.

    Scale shape: groupBy(custkey) collapses orders to customers; quartile
    boundaries are one algebraic aggregate (swap percentile for
    approx_percentile at extreme counts — same contract); scoring is a
    broadcast-compare projection; final rollup is map-side combined.
    Spark percentile() and DuckDB QUANTILE_CONT bit-match on doubles
    (same a + f·(b−a) interpolation — proven by agg_equidepth_histogram)."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        (
            F.unix_timestamp(F.max(F.col("o_orderdate").cast("date")).cast("timestamp"))
            / 86400
        )
        .cast("long")
        .alias("r_day"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    b = per.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}{int(q * 100)}")
            for c in ("r_day", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def score(col: str, pfx: str):
        return (
            F.when(F.col(col) >= F.col(f"{pfx}75"), 1)
            .when(F.col(col) >= F.col(f"{pfx}50"), 2)
            .when(F.col(col) >= F.col(f"{pfx}25"), 3)
            .otherwise(4)
        )

    scored = per.crossJoin(F.broadcast(b)).select(
        "monetary",
        score("r_day", "r").alias("r_score"),
        score("frequency", "f").alias("f_score"),
        score("monetary", "m").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("segment_revenue"),
    )
