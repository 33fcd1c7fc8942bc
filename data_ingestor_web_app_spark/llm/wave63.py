"""Wave-63: scene-cut detection over real encoded/decoded frame
sequences, Matryoshka prefix-dimension recall, expected calibration
error.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_N_CLIPS = 40
_N_FRAMES = 12
_FRAME_W = 16
_FRAME_H = 16


@query(
    "mm_scene_cut_detect",
    oracle="""
    WITH clips AS (
        SELECT doc_id AS clip_id, 4 + doc_id % 3 AS cut_len
        FROM documents WHERE doc_id < 40
    ),
    frames AS (
        SELECT clip_id, cut_len, UNNEST(RANGE(1, 12)) AS f FROM clips
    ),
    ys AS (SELECT clip_id, cut_len, f, UNNEST(RANGE(16)) AS y FROM frames),
    px AS (SELECT clip_id, cut_len, f, y, UNNEST(RANGE(16)) AS x FROM ys),
    deltas AS (
        SELECT clip_id, cut_len, f,
               ABS(
                   (x * 7 + y * 13 + clip_id + 64 * (f // cut_len) + f) % 256
                   - (x * 7 + y * 13 + clip_id + 64 * ((f - 1) // cut_len)
                      + (f - 1)) % 256
               ) AS d
        FROM px
    )
    SELECT clip_id, CAST(f AS INT) AS frame_idx,
           SUM(d) / 256.0 AS mean_delta,
           CAST(SUM(d) / 256.0 > 32 AS BOOLEAN) AS is_cut
    FROM deltas GROUP BY clip_id, cut_len, f
    """,
)
def mm_scene_cut_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over REAL encoded-then-decoded frame
    sequences: each synthetic clip is 12 PNG frames (smooth +1 intensity
    drift within a scene, a +64 jump at every scene boundary); frames
    round-trip through the spec-valid stdlib PNG codec and consecutive
    frames diff pixel-wise — mean |delta| > 32 flags the cut. This is
    the shot-segmentation primitive video-curation pipelines run before
    frame dedup (cuts define the keyframe set worth embedding).

    The oracle re-derives every pixel of both frames analytically, so a
    hash match proves encode, decode, pairwise differencing, and the
    threshold all at once.

    Determinism: pixel deltas are exact integers; mean = sum/256 is a
    dyadic-exact double.

    Scale shape: one mapInPandas stage, one clip per row in, 11 rows
    out — embarrassingly parallel, no shuffle (per-clip frame state
    never leaves the task)."""
    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray, png_encode_gray

    clips = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _N_CLIPS)
        .select(F.col("doc_id").alias("clip_id"))
    )

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"clip_id": [], "frame_idx": [], "mean_delta": [], "is_cut": []}
            for clip_id in pdf["clip_id"]:
                cut_len = 4 + clip_id % 3
                decoded = []
                for f in range(_N_FRAMES):
                    shift = 64 * (f // cut_len) + f
                    png = png_encode_gray(
                        _FRAME_W,
                        _FRAME_H,
                        lambda x, y, s=shift: (x * 7 + y * 13 + clip_id + s) % 256,
                    )
                    _, _, pix = png_decode_gray(png)
                    decoded.append(pix)
                for f in range(1, _N_FRAMES):
                    total = sum(
                        abs(a - b) for a, b in zip(decoded[f], decoded[f - 1])
                    )
                    # sum/256 is dyadic-exact: no rounding needed (and
                    # Python banker's rounding vs SQL half-away would
                    # diverge exactly on these .xxx25 boundaries)
                    mean_d = total / 256.0
                    out["clip_id"].append(clip_id)
                    out["frame_idx"].append(f)
                    out["mean_delta"].append(mean_d)
                    out["is_cut"].append(mean_d > 32)
            yield pd.DataFrame(out)

    return clips.mapInPandas(
        detect,
        schema="clip_id long, frame_idx int, mean_delta double, is_cut boolean",
    )


@query(
    "sim_matryoshka_prefix_recall",
    oracle="""
    WITH dims AS (SELECT UNNEST([8, 16, 32, 64]) AS d),
    qe AS (SELECT vec_id AS qid, UNNEST(embedding) AS x,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings WHERE vec_id < 20),
    ae AS (SELECT vec_id AS nid, UNNEST(embedding) AS y,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings),
    dots AS (
        SELECT dims.d, qe.qid, ae.nid,
               SUM(CAST(qe.x AS DOUBLE) * CAST(ae.y AS DOUBLE)) AS dot
        FROM dims, qe JOIN ae USING (i)
        WHERE qe.i <= dims.d AND ae.nid <> qe.qid
        GROUP BY dims.d, qe.qid, ae.nid
    ),
    norms AS (
        SELECT dims.d, e.vec_id,
               SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE))) AS nrm
        FROM dims, (SELECT vec_id, UNNEST(embedding) AS x,
                           GENERATE_SUBSCRIPTS(embedding, 1) AS i
                    FROM embeddings) e
        WHERE e.i <= dims.d
        GROUP BY dims.d, e.vec_id
    ),
    topk AS (
        SELECT d, qid, nid FROM (
            SELECT dt.d, dt.qid, dt.nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY dt.d, dt.qid
                       ORDER BY ROUND(dt.dot / (nq.nrm * nn.nrm), 6) DESC, dt.nid
                   ) AS rk
            FROM dots dt
            JOIN norms nq ON nq.d = dt.d AND nq.vec_id = dt.qid
            JOIN norms nn ON nn.d = dt.d AND nn.vec_id = dt.nid
        ) t WHERE rk <= 10
    ),
    hits AS (
        SELECT p.d, p.qid, COUNT(b.nid) AS n_hit
        FROM topk p
        LEFT JOIN (SELECT qid, nid FROM topk WHERE d = 64) b
          ON b.qid = p.qid AND b.nid = p.nid
        GROUP BY p.d, p.qid
    )
    SELECT CAST(d AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(n_hit) / (10.0 * COUNT(*)), 6) AS recall_at_10
    FROM hits GROUP BY d
    """,
)
def sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix-dimension recall (Kusupati et al. 2022,
    public): retrieve top-10 neighbors using only the FIRST d dims of
    the embedding (d = 8, 16, 32, 64) and score recall against the
    full-dimension truth — the curve that tells you how many dims the
    first-stage retriever can drop (and how much index memory that
    saves) before quality falls off. d=64 is the identity row
    (recall 1.0), a built-in sanity anchor.

    Scale shape: the query side is the bounded 20-vector set broadcast
    against the corpus; prefix dots are array-slice + HOF fold per dim
    (JVM-side, no UDF); ranking windows run per (dim, query)."""
    from data_ingestor_web_app_spark.llm.vector_common import dot, norm

    e = table(spark, sf_dir, "embeddings")
    parts = []
    for d in (8, 16, 32, 64):
        pre = e.select(
            "vec_id", F.slice("embedding", 1, d).alias("v")
        )
        q = pre.where(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            norm(F.col("v")).alias("qn"),
        )
        c = pre.select(
            F.col("vec_id").alias("nid"),
            F.col("v").alias("nv"),
            norm(F.col("v")).alias("nn"),
        )
        cos = F.round(dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6)
        w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
        parts.append(
            c.crossJoin(F.broadcast(q))
            .where(F.col("nid") != F.col("qid"))
            .select(F.lit(d).alias("d"), "qid", "nid", cos.alias("cosine"))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 10)
            .select("d", "qid", "nid")
        )
    topk = parts[0]
    for p in parts[1:]:
        topk = topk.unionByName(p)
    base = topk.where(F.col("d") == 64).select("qid", "nid").withColumn("hit", F.lit(1))
    hits = (
        topk.join(base, ["qid", "nid"], "left")
        .groupBy("d", "qid")
        .agg(F.count("hit").alias("n_hit"))
    )
    return hits.groupBy("d").agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.sum("n_hit") / (10.0 * F.count("*")), 6).alias("recall_at_10"),
    ).select(F.col("d").cast("int").alias("dim"), "n_queries", "recall_at_10")


@query(
    "model_calibration_ece",
    oracle="""
    WITH g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s1,
               CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                        * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) AS s2
        FROM orders
    ),
    scored AS (
        SELECT CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               1.0 / (1.0 + EXP(-(-1.0 + 0.5 *
                   (CAST(ROUND(o.o_totalprice * 100) AS BIGINT) - g.s1 * 1.0 / g.n)
                   / SQRT(g.s2 / g.n
                          - (g.s1 * 1.0 / g.n) * (g.s1 * 1.0 / g.n))))) AS conf
        FROM orders o, g
    ),
    binned AS (
        SELECT CAST(FLOOR(conf * 10) AS INT) AS bin,
               COUNT(*) AS nb,
               SUM(conf) AS sconf,
               CAST(SUM(y) AS BIGINT) AS npos
        FROM scored GROUP BY 1
    )
    SELECT bin,
           CAST(nb AS BIGINT) AS n,
           ROUND(sconf / nb, 6) AS avg_conf,
           ROUND(npos * 1.0 / nb, 6) AS frac_pos,
           ROUND(ABS(sconf / nb - npos * 1.0 / nb), 6) AS gap,
           ROUND((SELECT SUM(ABS(sconf / nb - npos * 1.0 / nb) * nb)
                  FROM binned) / (SELECT SUM(nb) FROM binned), 6) AS ece
    FROM binned
    """,
)
def model_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error (Naeini et al., AAAI'15, public) of a
    fixed logistic scorer (sigma(-1 + 0.5 z) over standardized order
    value) predicting order finality: 10 equal-width confidence bins,
    per-bin |avg confidence - realized rate|, and the n-weighted ECE
    scalar — the model-ops readout that decides whether scores can be
    thresholded as probabilities or need recalibration first.

    Determinism: standardization uses exact BIGINT cent moments; the
    sigmoid is one fixed EXP formula; bin ids floor exact doubles.

    Scale shape: one pass computes global moments (tiny broadcast);
    scoring is a projection; the bin rollup is map-side combined over
    10 keys."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = o.agg(
        F.count("*").alias("n"),
        F.sum(cents).cast("long").alias("s1"),
        # cents^2 sums past 2^63 at sf0.1 — accumulate in 128-bit decimal
        F.sum(cents.cast("decimal(38,0)") * cents).cast("double").alias("s2"),
    )
    gm = F.col("s1") * 1.0 / F.col("n")
    gsd = F.sqrt(F.col("s2") / F.col("n") - gm * gm)
    scored = o.crossJoin(F.broadcast(g)).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        (1.0 / (1.0 + F.exp(-(-1.0 + 0.5 * (cents - gm) / gsd)))).alias("conf"),
    )
    binned = scored.groupBy(
        F.floor(F.col("conf") * 10).cast("int").alias("bin")
    ).agg(
        F.count("*").alias("nb"),
        F.sum("conf").alias("sconf"),
        F.sum("y").cast("long").alias("npos"),
    )
    gap = F.abs(F.col("sconf") / F.col("nb") - F.col("npos") * 1.0 / F.col("nb"))
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return binned.select(
        "bin",
        F.col("nb").cast("long").alias("n"),
        F.round(F.col("sconf") / F.col("nb"), 6).alias("avg_conf"),
        F.round(F.col("npos") * 1.0 / F.col("nb"), 6).alias("frac_pos"),
        F.round(gap, 6).alias("gap"),
        F.round(
            F.sum(gap * F.col("nb")).over(tot) / F.sum("nb").over(tot), 6
        ).alias("ece"),
    )
