"""Wave-232: Fellegi-Sunter record-linkage scoring, year-over-year /
month-over-month growth from calendar rollups, and a source-interleaved
training-order schedule computed without a global sort.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Fixed Fellegi-Sunter priors (m = P(agree | match), u = P(agree | non-
# match)) per comparison field — LITERAL rationals so log2(m/u) is the
# same double in every engine; estimating them is the EM variant, out of
# scope for the checked query.
_FS_FIELDS = {
    "name_suffix": (0.95, 0.10),
    "mktsegment": (0.90, 0.20),
    "acctbal_bucket": (0.85, 0.25),
}
_FS_THRESHOLD = 3.0  # log2 score above which a pair is ruled a match


def _w(m: float, u: float, agree: bool) -> float:
    return math.log2(m / u) if agree else math.log2((1 - m) / (1 - u))


@query(
    "model_fellegi_sunter",
    oracle=f"""
    WITH a AS (
        SELECT c_custkey, c_nationkey,
               RIGHT(c_name, 3) AS name_suffix,
               c_mktsegment AS mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS acctbal_bucket
        FROM customer WHERE c_nationkey < 5
    ),
    b AS (
        SELECT c_custkey AS b_key, c_nationkey,
               RIGHT(c_name, 3) AS name_suffix,
               c_mktsegment AS mktsegment,
               CAST(FLOOR(c_acctbal / 1000) + CASE WHEN c_custkey % 3 = 0
                    THEN 1 ELSE 0 END AS BIGINT) AS acctbal_bucket
        FROM customer WHERE c_nationkey < 5 AND c_custkey % 20 = 0
    ),
    pairs AS (
        SELECT a.c_custkey, b.b_key,
               CASE WHEN a.name_suffix = b.name_suffix THEN 1 ELSE 0 END AS g1,
               CASE WHEN a.mktsegment = b.mktsegment THEN 1 ELSE 0 END AS g2,
               CASE WHEN a.acctbal_bucket = b.acctbal_bucket THEN 1 ELSE 0 END AS g3,
               CASE WHEN a.c_custkey = b.b_key THEN 1 ELSE 0 END AS is_true
        FROM a JOIN b ON a.c_nationkey = b.c_nationkey
    ),
    scored AS (
        SELECT g1, g2, g3, is_true,
               (CASE WHEN g1 = 1 THEN {_w(*_FS_FIELDS['name_suffix'], True)!r}
                     ELSE {_w(*_FS_FIELDS['name_suffix'], False)!r} END)
             + (CASE WHEN g2 = 1 THEN {_w(*_FS_FIELDS['mktsegment'], True)!r}
                     ELSE {_w(*_FS_FIELDS['mktsegment'], False)!r} END)
             + (CASE WHEN g3 = 1 THEN {_w(*_FS_FIELDS['acctbal_bucket'], True)!r}
                     ELSE {_w(*_FS_FIELDS['acctbal_bucket'], False)!r} END)
                 AS score
        FROM pairs
    )
    SELECT g1, g2, g3,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(is_true) AS BIGINT) AS n_true_matches,
           ROUND(MIN(score), 6) AS match_weight,
           MIN(score) > {_FS_THRESHOLD!r} AS ruled_match
    FROM scored
    GROUP BY g1, g2, g3
    """,
)
def model_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969, public) —
    the scoring core of every entity-resolution pipeline: a clean source A
    (customers, 5 nation blocks) against a dirty 5% re-extract B (every
    20th customer, account-balance bucket perturbed for every third key),
    candidate pairs blocked on nation, each pair reduced to an agreement
    vector over (name suffix, market segment, balance bucket), and the
    match weight = sum of per-field log2(m/u) / log2((1-m)/(1-u)) terms
    with fixed literal priors. Output is the agreement-pattern table: pair
    counts, how many candidates are TRUE links (same source key), the
    pattern's weight, and the threshold ruling — the table a linkage
    analyst reads to set the clerical-review band.

    Determinism: weights are literal doubles combined in one fixed
    expression tree (identical in both engines); per-pattern MIN(score)
    collapses identical values. Blocking keeps candidates at
    |block_A| x |block_B|, never |A| x |B| — the linkage scale discipline;
    at 100 TB blocks come from an LSH/phonetic key, same shape.

    Scale shape: one broadcast-able B side (5% sample), nation-blocked
    join, map-side-combinable pattern rollup."""
    c = table(spark, sf_dir, "customer").where(F.col("c_nationkey") < 5)
    a = c.select(
        "c_custkey",
        "c_nationkey",
        F.expr("right(c_name, 3)").alias("name_suffix"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_bucket"),
    )
    b = (
        c.where(F.col("c_custkey") % 20 == 0)
        .select(
            F.col("c_custkey").alias("b_key"),
            "c_nationkey",
            F.expr("right(c_name, 3)").alias("name_suffix"),
            F.col("c_mktsegment").alias("mktsegment"),
            (
                F.floor(F.col("c_acctbal") / 1000)
                + F.when(F.col("c_custkey") % 3 == 0, 1).otherwise(0)
            )
            .cast("long")
            .alias("acctbal_bucket"),
        )
    )
    pairs = a.join(F.broadcast(b), "c_nationkey").select(
        F.when(a.name_suffix == b.name_suffix, 1).otherwise(0).alias("g1"),
        F.when(a.mktsegment == b.mktsegment, 1).otherwise(0).alias("g2"),
        F.when(a.acctbal_bucket == b.acctbal_bucket, 1).otherwise(0).alias("g3"),
        F.when(F.col("c_custkey") == F.col("b_key"), 1).otherwise(0).alias(
            "is_true"
        ),
    )
    score = (
        F.when(F.col("g1") == 1, _w(*_FS_FIELDS["name_suffix"], True)).otherwise(
            _w(*_FS_FIELDS["name_suffix"], False)
        )
        + F.when(F.col("g2") == 1, _w(*_FS_FIELDS["mktsegment"], True)).otherwise(
            _w(*_FS_FIELDS["mktsegment"], False)
        )
        + F.when(
            F.col("g3") == 1, _w(*_FS_FIELDS["acctbal_bucket"], True)
        ).otherwise(_w(*_FS_FIELDS["acctbal_bucket"], False))
    )
    return (
        pairs.select("g1", "g2", "g3", "is_true", score.alias("score"))
        .groupBy("g1", "g2", "g3")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("is_true").cast("long").alias("n_true_matches"),
            F.round(F.min("score"), 6).alias("match_weight"),
            (F.min("score") > _FS_THRESHOLD).alias("ruled_match"),
        )
    )


@query(
    "temporal_yoy_growth",
    oracle="""
    WITH monthly AS (
        SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS month,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           ROUND(revenue / LAG(revenue, 1) OVER (ORDER BY month) - 1, 6)
               AS mom_growth,
           ROUND(revenue / LAG(revenue, 12) OVER (ORDER BY month) - 1, 6)
               AS yoy_growth
    FROM monthly
    """,
)
def temporal_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth — the calendar
    rollup every BI layer ships: monthly revenue (rounded FIRST, so both
    engines divide identical 2dp values — the cross-engine float-sum
    discipline), then LAG(1) and LAG(12) growth ratios over the month
    sequence. First months carry NULL growth, exactly as a dashboard
    shows them.

    Scale shape: the heavy work is one map-side-combinable month rollup
    over the fact scan; the growth window runs on ~84 month rows (7 TPC-H
    years) — window-on-aggregate, never window-on-facts."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").cast("long").alias("n_orders"),
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        "n_orders",
        F.round(F.col("revenue") / F.lag("revenue", 1).over(w) - 1, 6).alias(
            "mom_growth"
        ),
        F.round(F.col("revenue") / F.lag("revenue", 12).over(w) - 1, 6).alias(
            "yoy_growth"
        ),
    )


@query(
    "pipeline_interleave_schedule",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
    ),
    src AS (
        SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS src_idx,
               COUNT(*) OVER () AS n_src
        FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT CAST((r.rn - 1) * s.n_src + s.src_idx AS BIGINT) AS pos,
           r.doc_id, r.source
    FROM ranked r JOIN src s ON s.source = r.source
    WHERE (r.rn - 1) * s.n_src + s.src_idx <= 100
    """,
)
def pipeline_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved training order — the data-ordering step between
    "corpus is deduped" and "tokens hit the trainer": documents ranked
    within each source (longest first, id tie-break) and emitted
    round-robin across sources, so no source clumps and early training
    sees every source's head. The first 100 schedule positions are the
    checked output.

    The scale point: the global position is ARITHMETIC — pos = (rank-1) *
    n_sources + source_index — from a per-source window plus a tiny
    source dimension, NOT a global ROW_NUMBER over the corpus (which
    would serialize 100 TB through one partition). Equal-rate
    interleaving; weighted mixtures compose this with
    pipeline_mixture_weights' sampling rates.

    pytest proves the no-clump property (max same-source run = 1 while
    all sources remain) and position density."""
    d = table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = d.select(
        "doc_id", "source", F.row_number().over(w_src).alias("rn")
    )
    srcs = d.select("source").distinct()
    # source count folded in as a 1-row broadcast (no build-time job)
    nsf = srcs.agg(F.count("*").cast("long").alias("n_src"))
    src_idx = srcs.select(
        "source", F.row_number().over(Window.orderBy("source")).alias("src_idx")
    )
    return (
        ranked.join(F.broadcast(src_idx), "source")
        .crossJoin(F.broadcast(nsf))
        .select(
            ((F.col("rn") - 1) * F.col("n_src") + F.col("src_idx"))
            .cast("long")
            .alias("pos"),
            "doc_id",
            "source",
        )
        .where(F.col("pos") <= 100)
    )
