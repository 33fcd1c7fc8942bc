"""Wave-77: DAU growth accounting, binary-quantized embedding recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_growth_accounting",
    oracle="""
    WITH du AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    first_seen AS (
        SELECT user_id, MIN(d) AS d0 FROM du GROUP BY user_id
    ),
    marked AS (
        SELECT du.user_id, du.d,
               du.d = fs.d0 AS is_new,
               EXISTS (SELECT 1 FROM du p
                       WHERE p.user_id = du.user_id
                         AND p.d = du.d - INTERVAL 1 DAY) AS active_yday
        FROM du JOIN first_seen fs ON fs.user_id = du.user_id
    ),
    churn AS (
        SELECT du.d + INTERVAL 1 DAY AS d, COUNT(*) AS n_churned
        FROM du
        WHERE NOT EXISTS (SELECT 1 FROM du n
                          WHERE n.user_id = du.user_id
                            AND n.d = du.d + INTERVAL 1 DAY)
        GROUP BY du.d + INTERVAL 1 DAY
    ),
    daily AS (
        SELECT d,
               CAST(COUNT(*) AS BIGINT) AS dau,
               CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN NOT is_new AND active_yday THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN NOT is_new AND NOT active_yday THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_resurrected
        FROM marked GROUP BY d
    )
    SELECT STRFTIME(daily.d, '%Y-%m-%d') AS d,
           daily.dau, daily.n_new, daily.n_retained, daily.n_resurrected,
           CAST(COALESCE(churn.n_churned, 0) AS BIGINT) AS n_churned
    FROM daily LEFT JOIN churn ON churn.d = CAST(daily.d AS TIMESTAMP)
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU growth accounting (the Social-Capital/Duolingo decomposition,
    public): every active day splits into NEW (first ever), RETAINED
    (also active yesterday) and RESURRECTED (returning after a gap),
    with CHURNED = yesterday's actives who didn't return — the identity
    DAU_t = new + retained + resurrected and
    DAU_t - DAU_{t-1} = new + resurrected - churned that turns a flat
    DAU chart into a diagnosis (growth stalling from churn vs from
    acquisition).

    Determinism: pure set membership on exact (user, day) pairs.

    Scale shape: one (user, day) dedup on the user shuffle; yesterday
    membership is a self-join on (user, d-1) riding the same partition
    key; churn is the anti-direction of that join; daily rollups are
    map-side combined."""
    e = table(spark, sf_dir, "events")
    du = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    first_seen = du.groupBy("user_id").agg(F.min("d").alias("d0"))
    yday = du.select("user_id", F.date_add("d", 1).alias("d")).withColumn(
        "active_yday", F.lit(True)
    )
    marked = (
        du.join(first_seen, "user_id")
        .join(yday, ["user_id", "d"], "left")
        .select(
            "d",
            (F.col("d") == F.col("d0")).alias("is_new"),
            F.coalesce("active_yday", F.lit(False)).alias("active_yday"),
        )
    )
    daily = marked.groupBy("d").agg(
        F.count("*").cast("long").alias("dau"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("long").alias("n_new"),
        F.sum(F.when(~F.col("is_new") & F.col("active_yday"), 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(~F.col("is_new") & ~F.col("active_yday"), 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    # churn: yesterday's actives anti-joined against today's
    churn = (
        du.alias("y")
        .join(
            du.alias("t"),
            (F.col("t.user_id") == F.col("y.user_id"))
            & (F.col("t.d") == F.date_add(F.col("y.d"), 1)),
            "left_anti",
        )
        .groupBy(F.date_add(F.col("d"), 1).alias("d"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    return (
        daily.join(churn, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "dau",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )


@query(
    "sim_binary_quantization_recall",
    oracle="""
    WITH ue AS (
        SELECT vec_id, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    ),
    sig AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN x > 0 AND i <= 32
                             THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END)
                    AS BIGINT) AS lo,
               CAST(SUM(CASE WHEN x > 0 AND i > 32
                             THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END)
                    AS BIGINT) AS hi
        FROM ue GROUP BY vec_id
    ),
    norms AS (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM ue GROUP BY vec_id
    ),
    dots AS (
        SELECT q.vec_id AS qid, a.vec_id AS nid,
               SUM(CAST(q.x AS DOUBLE) * CAST(a.x AS DOUBLE)) AS dot
        FROM ue q JOIN ue a ON a.i = q.i AND a.vec_id <> q.vec_id
        WHERE q.vec_id < 20
        GROUP BY q.vec_id, a.vec_id
    ),
    exact AS (
        SELECT qid, nid FROM (
            SELECT d.qid, d.nid,
                   ROW_NUMBER() OVER (PARTITION BY d.qid
                       ORDER BY ROUND(d.dot / (nq.nrm * nn.nrm), 6) DESC, d.nid)
                       AS rk
            FROM dots d
            JOIN norms nq ON nq.vec_id = d.qid
            JOIN norms nn ON nn.vec_id = d.nid
        ) t WHERE rk <= 10
    ),
    bin AS (
        SELECT qid, nid FROM (
            SELECT q.vec_id AS qid, a.vec_id AS nid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY BIT_COUNT(XOR(q.lo, a.lo))
                                + BIT_COUNT(XOR(q.hi, a.hi)) ASC, a.vec_id)
                       AS rk
            FROM sig q JOIN sig a ON a.vec_id <> q.vec_id
            WHERE q.vec_id < 20
        ) t WHERE rk <= 10
    )
    SELECT CAST(COUNT(DISTINCT b.qid) AS BIGINT) AS n_queries,
           ROUND(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END)
                 / (10.0 * COUNT(DISTINCT b.qid)), 6) AS recall_at_10
    FROM bin b LEFT JOIN exact e ON e.qid = b.qid AND e.nid = b.nid
    """,
)
def sim_binary_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization recall (the sign-bit compression modern
    vector stores ship as 32x-smaller indexes, public): each 64-dim
    float vector collapses to a 64-bit sign signature (two 32-bit
    halves), candidates rank by hamming distance, and recall@10 against
    the float-cosine truth quantifies what the 32x memory saving costs
    — the number that decides whether binary prefiltering needs a
    float re-rank stage.

    Determinism: sign bits and hamming distances are exact integers
    with totally ordered ranks; the float truth reuses the 6dp-rounded
    cosine rank.

    Scale shape: signatures build in one pass; the bounded 20-query
    side broadcasts against corpus signatures (8 bytes each — the whole
    point); XOR/POPCOUNT rank per query."""
    from data_ingestor_web_app_spark.llm.vector_common import dot, norm

    e = table(spark, sf_dir, "embeddings")
    powers = F.array(*[F.lit(1 << k).cast("long") for k in range(32)])

    def signature(offset: int):
        # F.shiftleft rejects Column shift amounts (NOTES_BUILD) — zip
        # against a literal power-of-two array instead
        return F.aggregate(
            F.zip_with(
                F.slice("embedding", offset, 32),
                powers,
                lambda x, p: F.when(x > 0, p).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    bits = e.select(
        "vec_id", signature(1).alias("lo"), signature(33).alias("hi")
    )
    base = e.select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    c = base.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"), F.col("nrm").alias("nn")
    )
    cos = F.round(dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn")), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    exact = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("qid", "nid")
        .withColumn("hit", F.lit(1))
    )
    qs = bits.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    ham = F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )
    wb = Window.partitionBy("qid").orderBy(F.col("hamming").asc(), F.col("nid"))
    bin_top = (
        bits.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"), ham.alias("hamming"))
        .withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") <= 10)
        .select("qid", "nid")
    )
    hits = bin_top.join(exact, ["qid", "nid"], "left")
    return hits.agg(
        F.countDistinct("qid").cast("long").alias("n_queries"),
        F.round(
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            / (10.0 * F.countDistinct("qid")),
            6,
        ).alias("recall_at_10"),
    )
