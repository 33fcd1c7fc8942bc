"""Wave-112: confusion matrix with MCC, consistent-hash vs modulo
rebalance audit, and week-over-week audience stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_confusion_matrix",
    oracle="""
    WITH preds AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS yhat
        FROM lineitem
    ),
    cells AS (
        SELECT
          CAST(SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          CAST(SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM preds
    )
    SELECT tp, fp, fn, tn,
           ROUND(tp * 1.0 / (tp + fp), 6) AS precision_,
           ROUND(tp * 1.0 / (tp + fn), 6) AS recall_,
           ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
           ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / SQRT((CAST(tp + fp AS DOUBLE)) * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) AS mcc
    FROM cells
    """,
)
def model_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix with precision / recall / F1 / Matthews
    correlation (public classification-evaluation canon) for the
    discount>=5% return predictor: the threshold-committed counterpart
    to model_auc_roc, reporting MCC because accuracy and F1 both
    mislead under class imbalance while MCC stays honest (it is the
    Pearson correlation of the binary vectors).

    Determinism: the four cells are exact integer counts; every metric
    is a fixed double formula over them (the MCC denominator is a
    product of exact-int sums cast to double once each), rounded 6dp.

    Scale shape: one projection + one 4-counter global aggregate."""
    preds = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("yhat"),
    )
    cells = preds.agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 0), 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 0), 1).otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    mcc = (tp.cast("double") * tn - fp.cast("double") * fn) / F.sqrt(
        (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
    )
    return cells.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(tp / (tp + fp), 6).alias("precision_"),
        F.round(tp / (tp + fn), 6).alias("recall_"),
        F.round(2.0 * tp / (2.0 * tp + fp + fn), 6).alias("f1"),
        F.round(mcc, 6).alias("mcc"),
    )


@query(
    "pipeline_ring_rebalance_audit",
    oracle="""
    WITH keys AS (
        SELECT o_orderkey AS k,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || '|ring'),
                                        1, 8)) AS BIGINT) AS h,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || '|s0'),
                                        1, 8)) AS BIGINT) AS h0,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || '|s1'),
                                        1, 8)) AS BIGINT) AS h1,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || '|s2'),
                                        1, 8)) AS BIGINT) AS h2,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || '|s3'),
                                        1, 8)) AS BIGINT) AS h3,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || '|s4'),
                                        1, 8)) AS BIGINT) AS h4
        FROM orders
    ),
    assigned AS (
        SELECT k,
               h % 4 AS mod4, h % 5 AS mod5,
               -- rendezvous (HRW): the new shard steals a key only when
               -- its weight beats all four incumbents
               h4 > GREATEST(h0, h1, h2, h3) AS hrw_moved
        FROM keys
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN mod4 <> mod5 THEN 1 ELSE 0 END) AS BIGINT)
               AS moved_modulo,
           CAST(SUM(CASE WHEN hrw_moved THEN 1 ELSE 0 END) AS BIGINT)
               AS moved_hrw,
           ROUND(SUM(CASE WHEN mod4 <> mod5 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS modulo_move_frac,
           ROUND(SUM(CASE WHEN hrw_moved THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS hrw_move_frac
    FROM assigned
    """,
)
def pipeline_ring_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-rebalance audit (rendezvous / highest-random-weight
    hashing, Thaler & Ravishankar 1996, public): when a 4-shard cluster
    grows to 5, what fraction of keys MOVE under naive modulo placement
    vs HRW? Modulo reshuffles ~4/5 of all keys; under HRW a key moves
    ONLY when the new shard's weight md5(key, shard) beats all four
    incumbents — the provably minimal ~1/5 — the quantified argument
    for stable routing (pipeline_consistent_hash_router's ring is the
    other minimal-move scheme; a naive equal-slice RANGE re-split moves
    ~50% and is the trap this audit exposes by contrast).

    Determinism: weights are salted-MD5 integers; the HRW winner test
    is an exact GREATEST comparison; move counts are exact; two
    divisions round 6dp.

    Scale shape: one projection (5 hash columns) + one 2-counter
    aggregate — the audit is as cheap as the routing itself."""

    def hs(salt: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("long")

    assigned = table(spark, sf_dir, "orders").select(
        (hs("|ring") % 4).alias("mod4"),
        (hs("|ring") % 5).alias("mod5"),
        (
            hs("|s4")
            > F.greatest(hs("|s0"), hs("|s1"), hs("|s2"), hs("|s3"))
        ).alias("hrw_moved"),
    )
    return assigned.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum(F.when(F.col("mod4") != F.col("mod5"), 1).otherwise(0)).cast("long").alias("moved_modulo"),
        F.sum(F.when(F.col("hrw_moved"), 1).otherwise(0)).cast("long").alias("moved_hrw"),
        F.round(
            F.sum(F.when(F.col("mod4") != F.col("mod5"), 1).otherwise(0)) / F.count("*"), 6
        ).alias("modulo_move_frac"),
        F.round(
            F.sum(F.when(F.col("hrw_moved"), 1).otherwise(0)) / F.count("*"), 6
        ).alias("hrw_move_frac"),
    )


@query(
    "events_audience_stability",
    oracle="""
    WITH span AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    tagged AS (
        SELECT DISTINCT event_type, user_id,
               DATEDIFF('day', d0, CAST(ts AS DATE)) // 7 AS week
        FROM events, span
        WHERE DATEDIFF('day', d0, CAST(ts AS DATE)) < 14
    ),
    w1 AS (SELECT event_type, user_id FROM tagged WHERE week = 0),
    w2 AS (SELECT event_type, user_id FROM tagged WHERE week = 1),
    sizes AS (
        SELECT t.event_type,
               CAST((SELECT COUNT(*) FROM w1 WHERE w1.event_type = t.event_type)
                    AS BIGINT) AS n1,
               CAST((SELECT COUNT(*) FROM w2 WHERE w2.event_type = t.event_type)
                    AS BIGINT) AS n2,
               CAST((SELECT COUNT(*) FROM w1 JOIN w2
                     ON w1.user_id = w2.user_id
                    AND w2.event_type = w1.event_type
                     WHERE w1.event_type = t.event_type) AS BIGINT) AS nboth
        FROM (SELECT DISTINCT event_type FROM tagged) t
    )
    SELECT event_type, n1 AS week1_users, n2 AS week2_users,
           nboth AS retained_users,
           ROUND(nboth * 1.0 / (n1 + n2 - nboth), 6) AS jaccard_stability,
           ROUND(nboth * 1.0 / n1, 6) AS retention_share
    FROM sizes
    ORDER BY event_type
    """,
)
def events_audience_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week audience stability: for each event type, the
    Jaccard overlap between week-1 and week-2 active-user sets plus the
    retained share — the churn-vs-stability readout that tells a
    product team whether an audience is the SAME people or a rotating
    cast (high DAU with low stability = leaky bucket). The temporal
    twin of events_audience_overlap (which compares types at one
    time).

    Determinism: set sizes and intersections are exact counts; two
    divisions round 6dp.

    Scale shape: one distinct over (type, user, week), a keyed
    self-join on (type, user) for the intersection, map-side rollups —
    identical algebra to the capture-recapture op, per segment."""
    span = table(spark, sf_dir, "events").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    tagged = (
        table(spark, sf_dir, "events")
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            "user_id",
            F.floor(F.datediff(F.col("ts").cast("date"), F.col("d0")) / 7).alias("week"),
            F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("di"),
        )
        .where(F.col("di") < 14)
        .select("event_type", "user_id", "week")
        .distinct()
    )
    w1 = tagged.where(F.col("week") == 0).select("event_type", "user_id")
    w2 = tagged.where(F.col("week") == 1).select(
        F.col("event_type").alias("et2"), F.col("user_id").alias("u2")
    )
    s1 = w1.groupBy("event_type").agg(F.count("*").cast("long").alias("n1"))
    s2 = w2.groupBy(F.col("et2").alias("event_type")).agg(
        F.count("*").cast("long").alias("n2")
    )
    inter = (
        w1.join(w2, (F.col("event_type") == F.col("et2")) & (F.col("user_id") == F.col("u2")))
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("nboth"))
    )
    return (
        s1.join(s2, "event_type", "left")
        .join(inter, "event_type", "left")
        .select(
            "event_type",
            F.col("n1").alias("week1_users"),
            F.coalesce("n2", F.lit(0).cast("long")).alias("week2_users"),
            F.coalesce("nboth", F.lit(0).cast("long")).alias("retained_users"),
            F.round(
                F.coalesce("nboth", F.lit(0))
                / (F.col("n1") + F.coalesce("n2", F.lit(0)) - F.coalesce("nboth", F.lit(0))),
                6,
            ).alias("jaccard_stability"),
            F.round(F.coalesce("nboth", F.lit(0)) / F.col("n1"), 6).alias("retention_share"),
        )
        .orderBy("event_type")
    )
