"""Wave-367: exact-substring deduplication (Lee, Ippolito, Nystrom et al.,
ACL 2022 — "Deduplicating Training Data Makes Language Models Better",
the ExactSubstr side of that paper) and the Games-Howell post-hoc
comparison (Games & Howell 1976).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 8  # minimum duplicated span, in tokens


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    g0 AS (
        SELECT doc_id, t,
               UNNEST(range(len(t) - {_K} + 1)) AS s
        FROM toks WHERE len(t) >= {_K}
    ),
    grams AS (
        SELECT doc_id, CAST(s AS BIGINT) AS s,
               array_to_string(t[CAST(s + 1 AS INT)
                                 :CAST(s + {_K} AS INT)], ' ') AS g
        FROM g0
    ),
    owner AS (
        SELECT g, MIN(doc_id) AS own FROM grams GROUP BY g
    ),
    spans AS (
        SELECT DISTINCT gr.doc_id, gr.s
        FROM grams gr JOIN owner o ON o.g = gr.g
        WHERE gr.doc_id > o.own
    ),
    islands AS (
        SELECT doc_id, s, s + {_K} - 1 AS e,
               CASE WHEN s > COALESCE(MAX(s + {_K} - 1) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1)
                    THEN 1 ELSE 0 END AS new_isl
        FROM spans
    ),
    tagged AS (
        SELECT doc_id, s, e,
               SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s
                                  ROWS UNBOUNDED PRECEDING) AS isl
        FROM islands
    ),
    merged AS (
        SELECT doc_id, isl, MAX(e) - MIN(s) + 1 AS cov
        FROM tagged GROUP BY doc_id, isl
    ),
    per_doc AS (
        SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS n_dup_tokens
        FROM merged GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           p.n_dup_tokens,
           ROUND(p.n_dup_tokens * 1.0 / len(t.t), 6) AS dup_frac
    FROM per_doc p JOIN toks t ON t.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication (Lee et al., ACL 2022): any ≥8-token
    span that also appears in an EARLIER document (min doc_id owns the
    span; later holders mark theirs for removal) is duplicated text.
    Per victim document: the number of tokens covered by the MERGED
    duplicated spans (overlapping 8-gram hits coalesce into islands —
    gaps-and-islands over span starts) and the removable fraction. The
    paper builds a corpus suffix array; at Spark scale the equivalent
    blocked formulation is the k-gram fingerprint join used here —
    linear in corpus + collisions, no suffix array node.

    Determinism: grams are exact strings (at 100 TB you would hash them
    — equality joins are unchanged); ownership is MIN(doc_id); island
    merging is exact integer interval arithmetic; ROUND 6.

    Scale shape: one explode → gram groupBy with map-side partials
    (heaviest shuffle, linear in token count); the span frame returns
    to a per-doc partition for the island windows — per-key, parallel;
    no all-pairs anything."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    grams = (
        d.where(F.size("t") >= _K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(t) - {_K}),"
                    f" i -> concat_ws(' ', slice(t, i + 1, {_K})))"
                )
            ).alias("s", "g"),
        )
        .select("doc_id", F.col("s").cast("long").alias("s"), "g")
    )
    owner = grams.groupBy("g").agg(F.min("doc_id").alias("own"))
    spans = (
        grams.join(owner, "g")
        .where(F.col("doc_id") > F.col("own"))
        .select("doc_id", "s")
        .distinct()
    )
    wd = Window.partitionBy("doc_id").orderBy("s")
    islands = spans.select(
        "doc_id",
        "s",
        (F.col("s") + _K - 1).alias("e"),
        F.when(
            F.col("s")
            > F.coalesce(
                F.max(F.col("s") + _K - 1).over(
                    wd.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(-1),
            ),
            1,
        )
        .otherwise(0)
        .alias("new_isl"),
    )
    tagged = islands.withColumn(
        "isl",
        F.sum("new_isl").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = tagged.groupBy("doc_id", "isl").agg(
        (F.max("e") - F.min("s") + 1).alias("cov")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.sum("cov").cast("long").alias("n_dup_tokens")
    )
    return (
        per_doc.join(d, "doc_id")
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            "n_dup_tokens",
            F.round(F.col("n_dup_tokens") * 1.0 / F.size("t"), 6).alias(
                "dup_frac"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "agg_games_howell",
    oracle="""
    WITH x AS (
        SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type IN ('purchase', 'click', 'view')
    ),
    moms AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               AVG(CAST(v AS DOUBLE)) AS m,
               (SUM(CAST(v AS DOUBLE) * v)
                - SUM(CAST(v AS DOUBLE)) * SUM(CAST(v AS DOUBLE)) / COUNT(*))
                   / (COUNT(*) - 1) AS s2
        FROM x GROUP BY g
    )
    SELECT a.g AS group_a, b.g AS group_b,
           ROUND(a.m - b.m, 6) AS mean_diff,
           ROUND((a.m - b.m)
                 / SQRT(a.s2 / a.n + b.s2 / b.n), 6) AS t_stat,
           ROUND((a.s2 / a.n + b.s2 / b.n) * (a.s2 / a.n + b.s2 / b.n)
                 / ((a.s2 / a.n) * (a.s2 / a.n) / (a.n - 1)
                    + (b.s2 / b.n) * (b.s2 / b.n) / (b.n - 1)), 6)
               AS welch_df
    FROM moms a JOIN moms b ON a.g < b.g
    ORDER BY group_a, group_b
    """,
)
def agg_games_howell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Games-Howell post-hoc pairwise comparisons (Games & Howell 1976)
    across the purchase/click/view value distributions: the
    unequal-variance Tukey alternative — per pair, the Welch t statistic
    with the Welch-Satterthwaite effective df; decisions compare |t|·√2
    against the studentized-range quantile at that df (tabulated, so the
    statistic + df ARE the test output here, as with the registry's
    other critical-value-table tests, e.g. agg_bws_test).

    Determinism: values in exact cents; per-group moments are single
    aggregates with the textbook corrected-sum-of-squares form; all
    pair math is a fixed double chain over the 3-row moment frame;
    ROUND 6.

    Scale shape: one conditional groupBy collapse, then a 3×3 self-join
    on the broadcast moment frame."""
    x = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click", "view"))
        .select(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    vd = F.col("v").cast("double")
    moms = x.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.avg(vd).alias("m"),
        (
            (F.sum(vd * F.col("v")) - F.sum(vd) * F.sum(vd) / F.count("*"))
            / (F.count("*") - 1)
        ).alias("s2"),
    )
    a = moms.select(
        F.col("g").alias("group_a"),
        F.col("n").alias("na"),
        F.col("m").alias("ma"),
        F.col("s2").alias("sa"),
    )
    b = moms.select(
        F.col("g").alias("group_b"),
        F.col("n").alias("nb"),
        F.col("m").alias("mb"),
        F.col("s2").alias("sb"),
    )
    va = F.col("sa") / F.col("na")
    vb = F.col("sb") / F.col("nb")
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
            F.round(
                (F.col("ma") - F.col("mb")) / F.sqrt(va + vb), 6
            ).alias("t_stat"),
            F.round(
                (va + vb) * (va + vb)
                / (va * va / (F.col("na") - 1) + vb * vb / (F.col("nb") - 1)),
                6,
            ).alias("welch_df"),
        )
        .orderBy("group_a", "group_b")
    )
