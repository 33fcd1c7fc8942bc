"""Wave-106: bitemporal as-of join, SPRT sequential monitoring, and
hard-negative mining over embeddings.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm.vector_common import dot as _dot, norm as _norm
from data_ingestor_web_app_spark.registry import query


@query(
    "join_bitemporal_asof",
    oracle="""
    WITH versions AS (
        -- synthetic bitemporal dim: each supplier re-prices every 90 days
        -- of VALID time; each version is RECORDED 7 days after it becomes
        -- valid (tx lag), and every third version is a late correction
        -- recorded 30 days after
        SELECT s_suppkey,
               CAST('1995-01-01' AS DATE) + CAST(v * 90 AS INT) AS valid_from,
               CAST('1995-01-01' AS DATE)
                   + CAST(v * 90 + CASE WHEN v % 3 = 2 THEN 30 ELSE 7 END AS INT)
                   AS tx_from,
               CAST(s_suppkey AS BIGINT) * 1000 + v * 17 AS cost_cents
        FROM supplier, (SELECT UNNEST(RANGE(8)) AS v)
    ),
    queries AS (
        SELECT DISTINCT l_orderkey, l_linenumber, l_suppkey,
               CAST(l_shipdate AS DATE) AS business_time,
               CAST(l_shipdate AS DATE) + 14 AS observed_at
        FROM lineitem WHERE l_orderkey % 37 = 0
    ),
    resolved AS (
        SELECT q.l_orderkey, q.l_linenumber, q.l_suppkey,
               q.business_time, v.valid_from, v.tx_from, v.cost_cents,
               ROW_NUMBER() OVER (
                   PARTITION BY q.l_orderkey, q.l_linenumber, q.l_suppkey,
                                q.business_time
                   ORDER BY v.valid_from DESC, v.tx_from DESC) AS rk
        FROM queries q
        JOIN versions v
          ON v.s_suppkey = q.l_suppkey
         AND v.valid_from <= q.business_time
         AND v.tx_from <= q.observed_at
    )
    SELECT l_orderkey, l_linenumber,
           STRFTIME(business_time, '%Y-%m-%d') AS business_time,
           STRFTIME(valid_from, '%Y-%m-%d') AS version_valid_from,
           cost_cents
    FROM resolved WHERE rk = 1
    ORDER BY l_orderkey, l_linenumber
    """,
)
def join_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of resolution (Snodgrass temporal-database canon,
    public): each fact row asks 'what supplier cost was VALID at ship
    time, as KNOWN by the time we observed it?' — the two-axis
    (valid-time x transaction-time) lookup that auditable warehouses
    need, strictly stronger than join_point_in_time (one axis) because
    late corrections (versions recorded 30 days after validity) must be
    visible only to queries whose observation time has caught up.

    Determinism: the version dim is synthesized from literal arithmetic
    on supplier keys; resolution picks the max (valid_from, tx_from)
    among versions passing BOTH cuts, with a total-order tie-break.

    Scale shape: a keyed join on supplier with two range predicates —
    the classic as-of pattern (per-key versions sorted once, latest
    eligible picked per fact); the window partitions by fact key, never
    global."""
    versions = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey")
        .crossJoin(F.broadcast(spark.range(8).select(F.col("id").cast("int").alias("v"))))
        .select(
            "s_suppkey",
            F.date_add(F.lit("1995-01-01").cast("date"), F.col("v") * 90).alias("valid_from"),
            F.date_add(
                F.lit("1995-01-01").cast("date"),
                F.col("v") * 90
                + F.when(F.col("v") % 3 == 2, 30).otherwise(7),
            ).alias("tx_from"),
            (F.col("s_suppkey").cast("long") * 1000 + F.col("v") * 17).alias("cost_cents"),
        )
    )
    queries = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 37 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            F.col("l_shipdate").cast("date").alias("business_time"),
            F.date_add(F.col("l_shipdate").cast("date"), 14).alias("observed_at"),
        )
        # the fixture's (orderkey, linenumber) is NOT unique — dedup the
        # full fact identity so the per-fact resolution window is keyed
        # by a true key
        .distinct()
    )
    joined = queries.join(
        versions,
        (F.col("s_suppkey") == F.col("l_suppkey"))
        & (F.col("valid_from") <= F.col("business_time"))
        & (F.col("tx_from") <= F.col("observed_at")),
    )
    w = Window.partitionBy(
        "l_orderkey", "l_linenumber", "l_suppkey", "business_time"
    ).orderBy(F.desc("valid_from"), F.desc("tx_from"))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.date_format("business_time", "yyyy-MM-dd").alias("business_time"),
            F.date_format("valid_from", "yyyy-MM-dd").alias("version_valid_from"),
            "cost_cents",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# SPRT hypotheses: error rate p0 = 0.18 vs p1 = 0.25; log-likelihood
# increments scaled to exact integers at 1e6 (computed once in Python so
# both engines consume identical literals).
_P0, _P1 = 0.18, 0.25
_LLR_HIT = round(math.log(_P1 / _P0) * 1e6)        # event is an error
_LLR_MISS = round(math.log((1 - _P1) / (1 - _P0)) * 1e6)
_A = round(math.log(19.0) * 1e6)   # accept H1 (alpha = beta = 0.05)
_B = round(math.log(1 / 19.0) * 1e6)  # accept H0


@query(
    "events_sprt_monitor",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errs,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY day
    ),
    walk AS (
        SELECT day, errs, n,
               SUM(errs * {_LLR_HIT} + (n - errs) * {_LLR_MISS})
                   OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS llr
        FROM daily
    ),
    crossings AS (
        SELECT day, llr,
               CASE WHEN llr >= {_A} THEN 'accept_h1'
                    WHEN llr <= {_B} THEN 'accept_h0'
                    ELSE 'continue' END AS verdict
        FROM walk
    ),
    first_cross AS (
        SELECT MIN(day) AS decision_day FROM crossings
        WHERE verdict <> 'continue'
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           STRFTIME((SELECT decision_day FROM first_cross), '%Y-%m-%d')
               AS decision_day,
           (SELECT c.verdict FROM crossings c, first_cross f
            WHERE c.day = f.decision_day) AS decision,
           ROUND((SELECT llr FROM crossings c, first_cross f
                  WHERE c.day = f.decision_day) / 1e6, 6) AS llr_at_decision
    """,
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (1945, public)
    monitoring the error rate: every event updates a log-likelihood
    random walk between H0 (18% errors) and H1 (25% errors), and the
    monitor STOPS the first day the walk exits the (log 1/19, log 19)
    corridor — the always-valid sequential decision rule with
    guaranteed 5%/5% error rates, the continuous counterpart of the
    group-sequential O'Brien-Fleming looks already in the registry.

    Determinism: the per-event LLR increments are module-computed
    INTEGER literals (log ratios * 1e6, identical text in both plans),
    so the walk is an exact BIGINT prefix sum and the corridor exits
    are integer comparisons; the decision day is the exact MIN over
    crossing days.

    Scale shape: one groupBy-to-days, one ordered prefix window over
    the tiny series, one min-reduce — per-metric partitioning at
    100 TB."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("errs"),
            F.count("*").cast("long").alias("n"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    walk = daily.select(
        "day",
        F.sum(
            F.col("errs") * _LLR_HIT + (F.col("n") - F.col("errs")) * _LLR_MISS
        )
        .over(w)
        .alias("llr"),
    )
    crossings = walk.select(
        "day",
        "llr",
        F.when(F.col("llr") >= _A, "accept_h1")
        .when(F.col("llr") <= _B, "accept_h0")
        .otherwise("continue")
        .alias("verdict"),
    )
    first_cross = crossings.where(F.col("verdict") != "continue").agg(
        F.min("day").alias("decision_day")
    )
    n_days = daily.agg(F.count("*").cast("long").alias("n_days"))
    at_decision = crossings.join(
        F.broadcast(first_cross), F.col("day") == F.col("decision_day")
    )
    return (
        n_days.crossJoin(F.broadcast(at_decision))
        .select(
            "n_days",
            F.date_format("decision_day", "yyyy-MM-dd").alias("decision_day"),
            F.col("verdict").alias("decision"),
            F.round(F.col("llr") / 1e6, 6).alias("llr_at_decision"),
        )
    )


@query(
    "sim_hard_negatives",
    oracle="""
    WITH qe AS (SELECT vec_id AS qid, label AS qlabel,
                       UNNEST(embedding) AS x,
                       GENERATE_SUBSCRIPTS(embedding, 1) AS i
                FROM embeddings WHERE vec_id < 15),
    te AS (SELECT vec_id AS nid, label, UNNEST(embedding) AS y,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings WHERE vec_id >= 15),
    norms AS (SELECT vec_id,
                     SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
              FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
              GROUP BY vec_id),
    dots AS (SELECT qid, MAX(qlabel) AS qlabel, nid, MAX(te.label) AS nlabel,
                    SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
             FROM qe JOIN te USING (i)
             WHERE te.label <> qe.qlabel
             GROUP BY qid, nid),
    scored AS (SELECT qid, qlabel, nid, nlabel,
                      ROUND(dot / (nq.nrm * nn.nrm), 6) AS cosine
               FROM dots
               JOIN norms nq ON nq.vec_id = qid
               JOIN norms nn ON nn.vec_id = nid)
    SELECT qid, qlabel, nid AS hard_negative_id, nlabel AS negative_label,
           cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, nid) AS rk
          FROM scored) s
    WHERE rk = 1
    ORDER BY qid
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (the contrastive-training data step behind
    every dual-encoder retriever, public): for each anchor vector, the
    MOST SIMILAR corpus vector with a DIFFERENT label — the negatives
    that actually teach the margin, as opposed to random negatives the
    model already separates. The label-mismatch predicate applies
    before any distance work (sim_filtered_topk's pre-filter
    discipline, inverted).

    Determinism: same exact dot/norm chains as the sim family; cosine
    rounds 6dp before the per-anchor argmax; unique tie-breaks.

    Scale shape: bounded anchor batch broadcasts; per-anchor top-1 is
    heap state; at corpus-x-corpus scale the mining runs inside ANN
    buckets (sim_ann_lsh) with the same label-mismatch filter."""
    e = table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm"))
    q = base.where(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    t = base.where(F.col("vec_id") >= 15).select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"), "embedding", "nrm"
    )
    cos = F.round(_dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        t.join(F.broadcast(q), F.col("nlabel") != F.col("qlabel"))
        .select("qid", "qlabel", "nid", "nlabel", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "qid",
            "qlabel",
            F.col("nid").alias("hard_negative_id"),
            F.col("nlabel").alias("negative_label"),
            "cosine",
        )
        .orderBy("qid")
    )
