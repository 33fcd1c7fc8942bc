"""Wave-59: ANN recall-vs-nprobe curve, interrupted time series
(segmented regression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "sim_ann_recall_curve",
    oracle="""
    WITH ue AS (
        SELECT vec_id, label, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    ),
    centroids AS (
        SELECT label AS c_label, i, AVG(CAST(x AS DOUBLE)) AS cx
        FROM ue GROUP BY label, i
    ),
    cdots AS (
        SELECT u.vec_id, c.c_label,
               ROW_NUMBER() OVER (PARTITION BY u.vec_id
                                  ORDER BY ROUND(SUM(CAST(u.x AS DOUBLE) * c.cx), 6)
                                      DESC, c.c_label) AS rk
        FROM ue u JOIN centroids c ON u.i = c.i
        GROUP BY u.vec_id, c.c_label
    ),
    assign AS (SELECT vec_id, c_label FROM cdots WHERE rk = 1),
    norms AS (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM ue GROUP BY vec_id
    ),
    alldots AS (
        SELECT q.vec_id AS qid, a.vec_id AS nid,
               SUM(CAST(q.x AS DOUBLE) * CAST(a.x AS DOUBLE)) AS dot
        FROM ue q JOIN ue a ON a.i = q.i AND a.vec_id <> q.vec_id
        WHERE q.vec_id < 20
        GROUP BY q.vec_id, a.vec_id
    ),
    exact AS (
        SELECT qid, nid FROM (
            SELECT d.qid, d.nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.qid
                       ORDER BY ROUND(d.dot / (nq.nrm * nn.nrm), 6) DESC, d.nid
                   ) AS rk
            FROM alldots d
            JOIN norms nq ON nq.vec_id = d.qid
            JOIN norms nn ON nn.vec_id = d.nid
        ) t WHERE rk <= 10
    ),
    probes AS (
        SELECT np.np, c.vec_id AS qid, c.c_label
        FROM cdots c CROSS JOIN (SELECT UNNEST([1, 2, 4]) AS np) np
        WHERE c.vec_id < 20 AND c.rk <= np.np
    ),
    ivf AS (
        SELECT np, qid, nid FROM (
            SELECT p.np, p.qid, d.nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.np, p.qid
                       ORDER BY ROUND(d.dot / (nq.nrm * nn.nrm), 6) DESC, d.nid
                   ) AS rk
            FROM probes p
            JOIN assign a ON a.c_label = p.c_label
            JOIN alldots d ON d.qid = p.qid AND d.nid = a.vec_id
            JOIN norms nq ON nq.vec_id = d.qid
            JOIN norms nn ON nn.vec_id = d.nid
        ) t WHERE rk <= 10
    ),
    hits AS (
        SELECT i.np, i.qid, COUNT(e.nid) AS n_hit
        FROM ivf i LEFT JOIN exact e ON e.qid = i.qid AND e.nid = i.nid
        GROUP BY i.np, i.qid
    )
    SELECT CAST(np AS INT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(n_hit) / (10.0 * COUNT(*)), 6) AS recall_at_10
    FROM hits GROUP BY np
    """,
)
def sim_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 as a function of nprobe (1, 2, 4) for the IVF index —
    the quality/latency curve every ANN deployment publishes before
    picking its operating point (each probe step scans one more posting
    list, ~N/K more candidates per query). Reuses sim_ivf_topk's
    codebook/assignment machinery; ground truth is the exact cosine
    top-10. The whole curve — approximate candidates AND the exact
    baseline AND the recall arithmetic — is hash-checked against the
    analytic oracle.

    Scale shape: centroid assignment is a broadcast argmax (corpus
    never shuffles); candidate generation joins posting lists only for
    the 20 bounded queries x <=4 probed lists; recall is a tiny rollup.
    At 100 TB the exact baseline would be sampled — here the fixture is
    small enough to make it exact, which is what lets the oracle bind."""
    from data_ingestor_web_app_spark.llm.similarity import _centroids, _dot, _norm

    e = table(spark, sf_dir, "embeddings")
    cent = _centroids(e)
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("c_label"))
    cdots = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "c_label",
            F.round(_dot(F.col("embedding"), F.col("centroid")), 6).alias("dot"),
        )
        .withColumn("rk", F.row_number().over(w_assign))
    )
    assign = cdots.where(F.col("rk") == 1).select("vec_id", "c_label")
    base = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    queries = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    corpus = base.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    cos = F.round(_dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn")), 6)
    # exact ground truth: bounded query side x corpus, top-10
    w_q = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    exact = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w_q))
        .where(F.col("rk") <= 10)
        .select("qid", "nid")
    )
    nps = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("np")
    )
    probes = (
        cdots.where(F.col("vec_id") < 20)
        .crossJoin(F.broadcast(nps))
        .where(F.col("rk") <= F.col("np"))
        .select(F.col("np"), F.col("vec_id").alias("qid"), "c_label")
    )
    cand = (
        assign.join(
            F.broadcast(probes.join(queries, "qid")), "c_label"
        )
        .where(F.col("vec_id") != F.col("qid"))
        .join(corpus, F.col("vec_id") == F.col("nid"))
    )
    w_np = Window.partitionBy("np", "qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    ivf = (
        cand.select("np", "qid", "nid", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w_np))
        .where(F.col("rk") <= 10)
    )
    hits = (
        ivf.join(exact.withColumn("hit", F.lit(1)), ["qid", "nid"], "left")
        .groupBy("np", "qid")
        .agg(F.count("hit").alias("n_hit"))
    )
    return hits.groupBy("np").agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.sum("n_hit") / (10.0 * F.count("*")), 6).alias("recall_at_10"),
    ).select(F.col("np").cast("int").alias("nprobe"), "n_queries", "recall_at_10")


@query(
    "events_interrupted_time_series",
    oracle="""
    WITH daily AS (
        SELECT DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    seg AS (
        SELECT CASE WHEN t >= 14 THEN 1 ELSE 0 END AS s, t, y FROM daily
    ),
    mom AS (
        SELECT s, COUNT(*) AS n,
               CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(t * t) AS BIGINT) AS stt,
               CAST(SUM(t * y) AS BIGINT) AS sty
        FROM seg GROUP BY s
    ),
    fit AS (
        SELECT s,
               (n * sty - st * sy) * 1.0 / (n * stt - st * st) AS slope,
               (sy - (n * sty - st * sy) * 1.0 / (n * stt - st * st) * st) * 1.0 / n
                   AS icept
        FROM mom
    )
    SELECT ROUND(pre.slope, 6) AS pre_slope,
           ROUND(pre.icept, 6) AS pre_intercept,
           ROUND(post.slope, 6) AS post_slope,
           ROUND(post.icept, 6) AS post_intercept,
           ROUND((post.icept + post.slope * 14)
                 - (pre.icept + pre.slope * 14), 6) AS level_change_at_cut,
           ROUND(post.slope - pre.slope, 6) AS trend_change
    FROM (SELECT * FROM fit WHERE s = 0) pre,
         (SELECT * FROM fit WHERE s = 1) post
    """,
)
def events_interrupted_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series readout (segmented regression — the
    standard quasi-experimental design when you shipped to everyone at
    once and can't A/B): fit daily volume linearly before and after the
    Jan-15 cut and report the level jump at the cut plus the trend
    change — the two coefficients an ITS analysis tests.

    Determinism: day indexes and daily counts are exact integers, so
    the normal-equation numerators/denominators are exact BIGINTs; each
    slope/intercept is one double division of exact integers —
    bit-identical in both engines.

    Scale shape: the event stream collapses to one row per day in a
    map-side-combined groupBy; both fits are a 5-value aggregate per
    segment. Nothing downstream of the first rollup exceeds #days
    rows."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("t")
    ).agg(F.count("*").cast("long").alias("y"))
    seg = daily.select(
        F.when(F.col("t") >= 14, 1).otherwise(0).alias("s"), "t", "y"
    )
    mom = seg.groupBy("s").agg(
        F.count("*").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    slope = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) * 1.0 / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    fit = mom.select(
        "s", slope.alias("slope"), ((F.col("sy") - slope * F.col("st")) * 1.0 / F.col("n")).alias("icept")
    )
    pre = fit.where(F.col("s") == 0).select(
        F.col("slope").alias("m0"), F.col("icept").alias("b0")
    )
    post = fit.where(F.col("s") == 1).select(
        F.col("slope").alias("m1"), F.col("icept").alias("b1")
    )
    return pre.crossJoin(post).select(
        F.round("m0", 6).alias("pre_slope"),
        F.round("b0", 6).alias("pre_intercept"),
        F.round("m1", 6).alias("post_slope"),
        F.round("b1", 6).alias("post_intercept"),
        F.round(
            (F.col("b1") + F.col("m1") * 14) - (F.col("b0") + F.col("m0") * 14), 6
        ).alias("level_change_at_cut"),
        F.round(F.col("m1") - F.col("m0"), 6).alias("trend_change"),
    )
