"""Wave-73: rank-based AUC-ROC with tie handling, keyframe selection
on top of scene-cut detection.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_auc_roc",
    oracle="""
    WITH scored AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    per AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score, cnt, pos,
               COALESCE(SUM(cnt) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
        FROM per
    ),
    tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS n1,
               CAST(SUM(cnt - pos) AS BIGINT) AS n0
        FROM per
    ),
    ranksum2 AS (
        -- 2x the positive rank sum (average ranks for ties), exact ints
        SELECT CAST(SUM(pos * (2 * below + cnt + 1)) AS BIGINT) AS r2
        FROM cum
    )
    SELECT tot.n1 AS n_pos, tot.n0 AS n_neg,
           ROUND((ranksum2.r2 - tot.n1 * (tot.n1 + 1.0))
                 / (2.0 * tot.n0 * tot.n1), 6) AS auc
    FROM tot, ranksum2
    """,
)
def model_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC of the order-value scorer predicting finality, via the
    rank formulation (AUC = (R1 - n1(n1+1)/2) / (n0 n1), Mann-Whitney
    equivalence) with exact average-rank tie handling — the
    threshold-free companion to model_calibration_ece (calibration says
    whether scores are probabilities; AUC says whether they rank at
    all).

    Determinism: ranks stay in exact integer arithmetic throughout —
    2x the tied-average rank sum is sum(pos * (2*below + cnt + 1)), all
    BIGINTs; one double division at the end.

    Scale shape: scores collapse to per-distinct-value counts first
    (map-side combined), so the rank window runs over distinct values,
    not rows — the standard big-data AUC trick."""
    o = table(spark, sf_dir, "orders")
    scored = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    per = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"), F.sum("y").cast("long").alias("pos")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "cnt",
        "pos",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("below"),
    )
    agg = cum.agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n0"),
        F.sum(F.col("pos") * (2 * F.col("below") + F.col("cnt") + 1))
        .cast("long")
        .alias("r2"),
    )
    return agg.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(
            (F.col("r2") - F.col("n1") * (F.col("n1") + 1.0))
            / (2.0 * F.col("n0") * F.col("n1")),
            6,
        ).alias("auc"),
    )


@query(
    "mm_keyframe_select",
    oracle="""
    WITH clips AS (
        SELECT doc_id AS clip_id, 4 + doc_id % 3 AS cut_len
        FROM documents WHERE doc_id < 40
    ),
    scenes AS (
        SELECT clip_id, cut_len, UNNEST(RANGE(CAST(CEIL(12.0 / cut_len) AS BIGINT)))
            AS scene_idx
        FROM clips
    ),
    kf AS (
        SELECT clip_id, CAST(scene_idx AS INT) AS scene_idx,
               CAST(scene_idx * cut_len AS INT) AS keyframe_idx,
               cut_len
        FROM scenes WHERE scene_idx * cut_len < 12
    ),
    ys AS (SELECT clip_id, scene_idx, keyframe_idx, UNNEST(RANGE(16)) AS y FROM kf),
    px AS (SELECT clip_id, scene_idx, keyframe_idx, y, UNNEST(RANGE(16)) AS x FROM ys)
    SELECT clip_id, scene_idx, keyframe_idx,
           ROUND(AVG((x * 7 + y * 13 + clip_id
                      + 64 * (keyframe_idx // (4 + clip_id % 3))
                      + keyframe_idx) % 256), 4) AS mean_intensity
    FROM px GROUP BY clip_id, scene_idx, keyframe_idx
    """,
)
def mm_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection composed on scene segmentation: the first
    frame of every detected scene becomes the clip's keyframe manifest
    (scene boundaries are where mm_scene_cut_detect fires, i.e. every
    cut_len frames), each keyframe decoded through the real PNG codec
    and summarized by mean intensity — the frame set a video-curation
    pipeline actually embeds and dedups, one row per scene instead of
    per frame (the 10-100x data reduction that makes video affordable).

    Determinism: scene arithmetic is integer; mean intensity is the
    exact dyadic sum/256, rounded half-away at 4dp on BOTH sides — the
    Python kernel uses floor(x*1e4 + 0.5)/1e4 instead of round() (whose
    banker's rule diverges from SQL exactly on these dyadic halves —
    the mm_scene_cut_detect lesson).

    Scale shape: one mapInPandas pass per clip, <= 3 rows out each; no
    shuffle."""
    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray, png_encode_gray

    clips = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 40)
        .select(F.col("doc_id").alias("clip_id"))
    )

    def select_keyframes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            out = {
                "clip_id": [],
                "scene_idx": [],
                "keyframe_idx": [],
                "mean_intensity": [],
            }
            for clip_id in pdf["clip_id"]:
                cut_len = 4 + clip_id % 3
                scene = 0
                for f0 in range(0, 12, cut_len):
                    shift = 64 * (f0 // cut_len) + f0
                    png = png_encode_gray(
                        16, 16, lambda x, y, s=shift: (x * 7 + y * 13 + clip_id + s) % 256
                    )
                    _, _, pix = png_decode_gray(png)
                    total = sum(pix)
                    # half-away rounding of the exact dyadic sum/256 at 4dp
                    mean = math.floor(total / 256 * 10000 + 0.5) / 10000
                    out["clip_id"].append(clip_id)
                    out["scene_idx"].append(scene)
                    out["keyframe_idx"].append(f0)
                    out["mean_intensity"].append(mean)
                    scene += 1
            yield pd.DataFrame(out)

    return clips.mapInPandas(
        select_keyframes,
        schema="clip_id long, scene_idx int, keyframe_idx int, mean_intensity double",
    )
