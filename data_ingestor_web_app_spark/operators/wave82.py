"""Wave-82: k-NN majority-vote classification over embeddings, Kadane
max-gain window with exact start/end recovery, and 3x3 grayscale erosion
over real decoded PNGs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm.vector_common import dot as _dot, norm as _norm
from data_ingestor_web_app_spark.registry import query


@query(
    "model_knn_classify",
    oracle="""
    WITH qe AS (SELECT vec_id AS qid, label AS true_label,
                       UNNEST(embedding) AS x,
                       GENERATE_SUBSCRIPTS(embedding, 1) AS i
                FROM embeddings WHERE vec_id < 50),
    te AS (SELECT vec_id AS nid, label, UNNEST(embedding) AS y,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings WHERE vec_id >= 50),
    norms AS (SELECT vec_id,
                     SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
              FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
              GROUP BY vec_id),
    dots AS (SELECT qid, MAX(true_label) AS true_label, nid, MAX(te.label) AS label,
                    SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
             FROM qe JOIN te USING (i) GROUP BY qid, nid),
    scored AS (SELECT qid, true_label, nid, label,
                      ROUND(dot / (nq.nrm * nn.nrm), 6) AS cosine
               FROM dots
               JOIN norms nq ON nq.vec_id = qid
               JOIN norms nn ON nn.vec_id = nid),
    top5 AS (SELECT qid, true_label, label FROM (
                 SELECT qid, true_label, label,
                        ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY cosine DESC, nid) AS rk
                 FROM scored) s
             WHERE rk <= 5),
    votes AS (SELECT qid, true_label, label,
                     CAST(COUNT(*) AS BIGINT) AS n_votes
              FROM top5 GROUP BY qid, true_label, label)
    SELECT qid AS vec_id, pred_label, n_votes, true_label,
           pred_label = true_label AS correct
    FROM (SELECT qid, true_label, label AS pred_label, n_votes,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY n_votes DESC, label) AS vr
          FROM votes) v
    WHERE vr = 1
    ORDER BY vec_id
    """,
)
def model_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification (Fix & Hodges 1951, public):
    label each vector of a bounded unlabeled batch (vec_id < 50) by the
    majority label of its 5 nearest cosine neighbors in the labeled
    corpus — the classic label-propagation / weak-supervision primitive
    of embedding pipelines (e.g. assigning quality tiers to new
    documents from a hand-labeled seed set). Vote ties break toward the
    smallest label, neighbor ties toward the smallest id, both total
    orders.

    Determinism: dot/norm accumulate the same exact per-element double
    products in both engines; cosine rounds 6dp BEFORE ranking; every
    window has a unique tie-break.

    Scale shape: the bounded batch broadcasts against the corpus (the
    corpus never shuffles); per-query top-k is heap state of size k;
    the vote is a groupBy over 5k rows. Batch-unbounded classification
    swaps the broadcast for the IVF posting-list join (sim_ivf_topk) —
    same downstream vote."""
    e = table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm"))
    q = base.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    t = base.where(F.col("vec_id") >= 50).select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        "embedding",
        "nrm",
    )
    cos = F.round(_dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    top5 = (
        t.join(F.broadcast(q))
        .select("qid", "true_label", "nid", "nlabel", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
    )
    votes = top5.groupBy("qid", "true_label", "nlabel").agg(
        F.count("*").cast("long").alias("n_votes")
    )
    wv = Window.partitionBy("qid").orderBy(F.col("n_votes").desc(), F.col("nlabel"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nlabel").alias("pred_label"),
            "n_votes",
            "true_label",
            (F.col("nlabel") == F.col("true_label")).alias("correct"),
        )
        .orderBy("vec_id")
    )


@query(
    "events_max_gain_window",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
        GROUP BY day
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS total
            FROM daily),
    pre AS (
        SELECT day, n * x - total AS dev,
               SUM(n * x - total) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
               n
        FROM daily, tot
    ),
    runs AS (
        SELECT day, p,
               LEAST(CAST(0 AS BIGINT),
                     COALESCE(MIN(p) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         CAST(0 AS BIGINT))) AS m,
               n
        FROM pre
    ),
    best AS (
        SELECT day AS end_day, p, m, p - m AS gain, n
        FROM runs ORDER BY gain DESC, end_day LIMIT 1
    ),
    anchor AS (
        SELECT MIN(r.day) AS pivot_day
        FROM runs r, best b WHERE r.p = b.m AND r.day < b.end_day
    )
    SELECT STRFTIME(COALESCE(
               (SELECT MIN(day) FROM runs, anchor WHERE day > pivot_day),
               (SELECT MIN(day) FROM runs)), '%Y-%m-%d') AS start_day,
           STRFTIME(b.end_day, '%Y-%m-%d') AS end_day,
           ROUND(b.gain * 1.0 / b.n, 4) AS gain_above_mean
    FROM best b
    """,
)
def events_max_gain_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-sum contiguous date window (Kadane/Bentley 1984, public)
    of daily purchase-count deviations from the mean: the single date
    range with the largest cumulative over-performance — 'when was the
    campaign actually working?'. Uses the prefix-sum identity
    best_ending_at(i) = P_i - min(0, min_{j<i} P_j), which turns the
    sequential Kadane recurrence into running windows, then recovers
    the window START by joining back to the earliest prefix index that
    attained the minimum.

    Determinism: deviations are the exact integer n*x - total; prefix
    sums, running minima, the argmax (gain DESC, day tie-break) and the
    start-recovery join all stay in BIGINT; the single division for
    display rounds 4dp.

    Scale shape: groupBy-to-days reduction then windows over the tiny
    aggregated series (per-series partitioning at 100 TB, as with the
    CUSUM twin); the recovery joins touch one row each."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wprev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    runs = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("dev", F.col("n") * F.col("x") - F.col("total"))
        .select(
            "day",
            "n",
            F.sum("dev").over(w).alias("p"),
        )
        .select(
            "day",
            "n",
            "p",
            F.least(
                F.lit(0).cast("long"),
                F.coalesce(F.min("p").over(wprev), F.lit(0).cast("long")),
            ).alias("m"),
        )
    )
    best = (
        runs.select("day", "p", "m", (F.col("p") - F.col("m")).alias("gain"), "n")
        .orderBy(F.desc("gain"), F.asc("day"))
        .limit(1)
        .select(F.col("day").alias("end_day"), F.col("m").alias("best_m"), "gain", "n")
    )
    pivot = (
        runs.join(
            F.broadcast(best),
            (F.col("p") == F.col("best_m")) & (F.col("day") < F.col("end_day")),
        )
        .agg(F.min("day").alias("pivot_day"))
    )
    first_day = runs.agg(F.min("day").alias("first_day"))
    start = (
        runs.crossJoin(F.broadcast(pivot))
        .where(F.col("day") > F.col("pivot_day"))
        .agg(F.min("day").alias("start_after_pivot"))
    )
    return (
        best.crossJoin(F.broadcast(start))
        .crossJoin(F.broadcast(first_day))
        .select(
            F.date_format(
                F.coalesce("start_after_pivot", "first_day"), "yyyy-MM-dd"
            ).alias("start_day"),
            F.date_format("end_day", "yyyy-MM-dd").alias("end_day"),
            F.round(F.col("gain") / F.col("n"), 4).alias("gain_above_mean"),
        )
    )


@query(
    "mm_image_erosion",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, w, h, x, y, (x * 7 + y * 13 + doc_id) % 256 AS v
        FROM px
    ),
    interior AS (
        SELECT doc_id, w, h, x, y FROM vals
        WHERE x BETWEEN 1 AND w - 2 AND y BETWEEN 1 AND h - 2
    ),
    eroded AS (
        SELECT i.doc_id, i.x, i.y, MIN(n.v) AS ev
        FROM interior i
        JOIN vals n ON n.doc_id = i.doc_id
                   AND n.x BETWEEN i.x - 1 AND i.x + 1
                   AND n.y BETWEEN i.y - 1 AND i.y + 1
        GROUP BY i.doc_id, i.x, i.y
    )
    SELECT doc_id,
           CAST(SUM(ev) AS BIGINT) AS eroded_sum,
           CAST(MIN(ev) AS INT) AS eroded_min,
           CAST(MAX(ev) AS INT) AS eroded_max
    FROM eroded
    GROUP BY doc_id
    """,
)
def mm_image_erosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 grayscale erosion (mathematical morphology, Serra 1982,
    public) per REAL decoded PNG: each interior pixel takes the minimum
    of its 3x3 neighborhood — the noise-removal / mask-shrinking
    primitive paired with dilation in every vision preprocessing stack.
    Reports per-image sum/min/max of the eroded interior so the hash
    pins the whole filtered plane.

    Determinism: uint8 min-filter and int64 sums are exact; the oracle
    re-derives pixels from the generator formula and brute-forces the
    neighborhood min relationally.

    Scale shape: Arrow-batched mapInPandas, one row out per image, no
    shuffle — the min-filter is np.minimum over 9 shifted views, all
    inside the batch. The relational 9-way neighborhood join exists
    only in the oracle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def erode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w)
                er = img[1:-1, 1:-1].copy()
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        er = np.minimum(
                            er, img[1 + dy : h - 1 + dy, 1 + dx : w - 1 + dx]
                        )
                rows.append(
                    (doc_id, int(er.astype(np.int64).sum()), int(er.min()), int(er.max()))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "eroded_sum", "eroded_min", "eroded_max"]
            )

    return payloads.mapInPandas(
        erode_batches,
        schema="doc_id long, eroded_sum long, eroded_min int, eroded_max int",
    )
