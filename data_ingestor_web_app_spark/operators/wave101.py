"""Wave-101: Hill tail-index estimation, split conformal prediction
intervals, and per-source duplication rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_HILL_K = 100  # order statistics used


@query(
    "model_hill_tail_index",
    oracle=f"""
    WITH topk AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        ORDER BY cents DESC LIMIT {_HILL_K}
    ),
    thr AS (SELECT MIN(cents) AS xk, CAST(COUNT(*) AS BIGINT) AS k FROM topk),
    fold AS (
        SELECT LIST_REDUCE(
                   LIST(LN(CAST(cents AS DOUBLE) / xk) ORDER BY cents, xk),
                   (a, b) -> a + b) AS logsum,
               MAX(k) AS k, MAX(xk) AS xk
        FROM topk, thr
    )
    SELECT k,
           ROUND(xk / 100.0, 2) AS threshold_price,
           ROUND(logsum / (k - 1), 6) AS hill_gamma,
           ROUND((k - 1) / logsum, 6) AS tail_alpha
    FROM fold
    """,
)
def model_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index (Hill 1975, public)
    over the top-100 order values: gamma = mean ln(x_(i)/x_(k)), whose
    reciprocal alpha is the Pareto exponent — the standard heavy-tail
    diagnostic ('how extreme can revenue spikes get?') completing the
    registry's tail family (Gumbel EVT block maxima, Zipf rank fit,
    Pareto skyline).

    Determinism: the top-k is an exact heap selection on integer cents;
    each log ratio is one LN on an exact rational; and the k-term sum
    folds in a FIXED sequential order (sorted by cents — Spark
    sort_array + aggregate, DuckDB LIST(... ORDER BY) + list_reduce,
    the Holt pattern), so association order is identical across
    engines; display rounds 6dp.

    Scale shape: TakeOrderedAndProject gives the top-k with per-
    partition heaps; everything after is a 100-element fold."""
    topk = (
        table(spark, sf_dir, "orders")
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .orderBy(F.desc("cents"))
        .limit(_HILL_K)
    )
    xk_row = topk.agg(F.min("cents").alias("xk"), F.count("*").cast("long").alias("k"))
    folded = (
        topk.crossJoin(F.broadcast(xk_row))
        .agg(
            F.max("xk").alias("xk"),
            F.max("k").alias("k"),
            F.aggregate(
                F.array_sort(F.collect_list(F.log(F.col("cents").cast("double") / F.col("xk")))),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("logsum_sorted_by_value"),
        )
    )
    # NOTE: sorting the LOG values equals sorting by cents (log is
    # monotone), matching the oracle's ORDER BY cents fold order.
    return folded.select(
        "k",
        F.round(F.col("xk") / 100.0, 2).alias("threshold_price"),
        F.round(F.col("logsum_sorted_by_value") / (F.col("k") - 1), 6).alias("hill_gamma"),
        F.round((F.col("k") - 1) / F.col("logsum_sorted_by_value"), 6).alias("tail_alpha"),
    )


@query(
    "model_conformal_interval",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey % 3 AS split
        FROM orders
    ),
    mu AS (
        SELECT o_orderpriority,
               CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred
        FROM base WHERE split = 0 GROUP BY o_orderpriority
    ),
    calib AS (
        SELECT ABS(b.cents - m.pred) AS resid
        FROM base b JOIN mu m USING (o_orderpriority)
        WHERE b.split = 1
    ),
    q AS (
        SELECT resid AS qhat FROM (
            SELECT resid, ROW_NUMBER() OVER (ORDER BY resid) AS rn,
                   COUNT(*) OVER () AS c
            FROM calib) s
        WHERE rn = LEAST(c, CAST(CEIL(0.9 * (c + 1)) AS BIGINT))
    ),
    test AS (
        SELECT b.cents, m.pred, q.qhat
        FROM base b JOIN mu m USING (o_orderpriority) CROSS JOIN q
        WHERE b.split = 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(MAX(qhat) AS BIGINT) AS qhat_cents,
           ROUND(SUM(CASE WHEN ABS(cents - pred) <= qhat THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS coverage,
           ROUND(2.0 * MAX(qhat) / 100, 2) AS interval_width_dollars
    FROM test
    """,
)
def model_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction (Vovk et al. / Lei et al., public):
    train a per-priority mean predictor on split 0, take the ceil(0.9
    (n+1))-th smallest absolute calibration residual on split 1 as the
    conformal quantile q-hat, and audit marginal coverage on split 2 —
    the distribution-free interval guarantee (coverage >= 90% in
    expectation) that modern ML serving wraps around ANY point model.

    Determinism: the predictor is the integer floor-mean, so residuals
    are exact integers; q-hat is a rank-SELECTED element; coverage is
    an integer comparison count — no float until the display divisions.

    Scale shape: the three splits come from one scan (key mod 3); the
    calibration quantile is one rank selection; coverage is one
    conditional aggregate with q-hat broadcast as a scalar."""
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 3).alias("split"),
    )
    mu = (
        base.where(F.col("split") == 0)
        .groupBy("o_orderpriority")
        .agg(F.expr("sum(cents) div count(*)").cast("long").alias("pred"))
    )
    calib = (
        base.where(F.col("split") == 1)
        .join(F.broadcast(mu), "o_orderpriority")
        .select(F.abs(F.col("cents") - F.col("pred")).alias("resid"))
    )
    # r8 rework (VERDICT r7 item 4): rank-select q-hat from the distinct-
    # residual cumulative-count frame — the global window's input is an
    # Aggregate, never raw calibration rows.
    rv = calib.groupBy("resid").agg(F.count("*").cast("long").alias("k"))
    wv = Window.orderBy("resid")
    cum = rv.select(
        "resid",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("c"),
    )
    rank = F.least(F.col("c"), F.ceil(0.9 * (F.col("c") + 1)).cast("long"))
    q = cum.agg(
        F.min(
            F.when(
                (F.col("below") < rank) & (rank <= F.col("upto")),
                F.col("resid"),
            )
        ).alias("qhat")
    )
    test = (
        base.where(F.col("split") == 2)
        .join(F.broadcast(mu), "o_orderpriority")
        .crossJoin(F.broadcast(q))
    )
    return test.agg(
        F.count("*").cast("long").alias("n_test"),
        F.max("qhat").cast("long").alias("qhat_cents"),
        F.round(
            F.sum(
                F.when(F.abs(F.col("cents") - F.col("pred")) <= F.col("qhat"), 1).otherwise(0)
            )
            / F.count("*"),
            6,
        ).alias("coverage"),
        F.round(2.0 * F.max("qhat") / 100, 2).alias("interval_width_dollars"),
    )


@query(
    "pipeline_dup_rate_by_source",
    oracle="""
    WITH hashed AS (
        SELECT source, MD5(text) AS h FROM documents
    ),
    per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique
        FROM hashed GROUP BY source
    )
    SELECT source, n_docs, n_unique,
           CAST(n_docs - n_unique AS BIGINT) AS n_dup_docs,
           ROUND((n_docs - n_unique) * 1.0 / n_docs, 6) AS dup_rate
    FROM per
    ORDER BY source
    """,
)
def pipeline_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication rate: documents minus distinct
    content hashes, per provenance source — the triage number that
    tells a corpus team WHICH feed is flooding the dedup stage
    (dedup_exact removes duplicates; this op attributes them). MD5 of
    the full text is the content key in both engines.

    Determinism: hash counting is exact set cardinality; one division,
    rounded 6dp.

    Scale shape: one map-side-combined groupBy carrying a distinct
    aggregate per source — Catalyst expands count(distinct) into the
    two-phase repartition plan automatically at scale."""
    hashed = table(spark, sf_dir, "documents").select(
        "source", F.md5(F.col("text")).alias("h")
    )
    return (
        hashed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("h").cast("long").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).cast("long").alias("n_dup_docs"),
            F.round((F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6).alias("dup_rate"),
        )
        .orderBy("source")
    )
