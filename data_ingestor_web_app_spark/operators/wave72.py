"""Wave-72: Cohen's kappa between heuristic raters, log-log price
elasticity, global SSIM over real decoded image pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_cohens_kappa",
    oracle="""
    WITH rated AS (
        SELECT CASE WHEN LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 2
                         >= LEN(STRING_SPLIT(text, ' ')) THEN 1 ELSE 0 END AS ra,
               CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 50 THEN 1 ELSE 0 END
                   AS rb
        FROM documents
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
               CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
               CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
        FROM rated
    )
    SELECT n, n11, n10, n01, n00,
           ROUND((n11 + n00) * 1.0 / n, 6) AS observed_agreement,
           ROUND(((n11 + n10) * 1.0 / n * ((n11 + n01) * 1.0 / n))
                 + ((n01 + n00) * 1.0 / n * ((n10 + n00) * 1.0 / n)), 6)
               AS expected_agreement,
           ROUND(((n11 + n00) * 1.0 / n
                  - (((n11 + n10) * 1.0 / n * ((n11 + n01) * 1.0 / n))
                     + ((n01 + n00) * 1.0 / n * ((n10 + n00) * 1.0 / n))))
                 / (1 - (((n11 + n10) * 1.0 / n * ((n11 + n01) * 1.0 / n))
                         + ((n01 + n00) * 1.0 / n * ((n10 + n00) * 1.0 / n)))),
                 6) AS kappa
    FROM m
    """,
)
def pipeline_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960, public) between two quality raters —
    rater A = lexical-diversity rule (TTR >= 0.5), rater B =
    length rule (>= 50 tokens) — chance-corrected agreement, the
    number every labeling pipeline reports before trusting auto-labels
    (raw agreement flatters raters that both mostly say 'keep').

    Determinism: the confusion matrix is exact integers; kappa is one
    fixed double formula over exact ratios.

    Scale shape: a projection then a single 4-cell global aggregate
    with map-side partials."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ra = F.when(F.size(F.array_distinct(toks)) * 2 >= F.size(toks), 1).otherwise(0)
    rb = F.when(F.size(toks) >= 50, 1).otherwise(0)
    m = d.select(ra.alias("ra"), rb.alias("rb")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")) * 1.0 / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")) * 1.0 / F.col("n")
        * ((F.col("n11") + F.col("n01")) * 1.0 / F.col("n"))
    ) + (
        (F.col("n01") + F.col("n00")) * 1.0 / F.col("n")
        * ((F.col("n10") + F.col("n00")) * 1.0 / F.col("n"))
    )
    return m.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("expected_agreement"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


@query(
    "model_price_elasticity",
    oracle="""
    WITH pts AS (
        SELECT LN(l_extendedprice / l_quantity) AS lp,
               LN(l_quantity) AS lq
        FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    mom AS (
        SELECT COUNT(*) AS n, AVG(lp) AS mp, AVG(lq) AS mq FROM pts
    ),
    cen AS (
        SELECT mom.n,
               SUM((pts.lp - mom.mp) * (pts.lq - mom.mq)) AS sxy,
               SUM((pts.lp - mom.mp) * (pts.lp - mom.mp)) AS sxx
        FROM pts, mom GROUP BY mom.n
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           ROUND(sxy / sxx, 4) AS elasticity,
           CASE WHEN sxy / sxx < -1 THEN 'elastic'
                WHEN sxy / sxx < 0 THEN 'inelastic'
                ELSE 'non_negative' END AS regime
    FROM cen
    """,
)
def model_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand: the OLS slope of ln(quantity)
    on ln(unit price) — the constant-elasticity readout (slope < -1 =
    elastic, raise revenue by cutting price; -1..0 = inelastic) that
    pricing teams fit before touching a price book. Centered sums (not
    raw moments) keep the normal equations from cancelling
    catastrophically at scale — the same guard agg_ols_two_feature
    documents.

    Determinism: both engines compute identical LN doubles from
    identical inputs; centering subtracts one broadcast mean; the slope
    rounds at 4dp (centered double sums agree far below that).

    Scale shape: one pass for means, one centered-sum pass with the
    mean row broadcast — two scans, no shuffle beyond global partials."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    pts = li.select(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
        F.log("l_quantity").alias("lq"),
    )
    mom = pts.agg(
        F.count("*").alias("n"), F.avg("lp").alias("mp"), F.avg("lq").alias("mq")
    )
    cen = pts.crossJoin(F.broadcast(mom)).agg(
        F.max("n").alias("n"),
        F.sum((F.col("lp") - F.col("mp")) * (F.col("lq") - F.col("mq"))).alias("sxy"),
        F.sum((F.col("lp") - F.col("mp")) * (F.col("lp") - F.col("mp"))).alias("sxx"),
    )
    slope = F.col("sxy") / F.col("sxx")
    return cen.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(slope, 4).alias("elasticity"),
        F.when(slope < -1, "elastic")
        .when(slope < 0, "inelastic")
        .otherwise("non_negative")
        .alias("regime"),
    )


@query(
    "mm_image_ssim_global",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 100
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id,
               (x * 7 + y * 13 + doc_id) % 200 AS a,
               (x * 7 + y * 13 + doc_id) % 200 + 40 AS b
        FROM px
    ),
    mom AS (
        SELECT doc_id, COUNT(*) AS n,
               CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(a * a) AS BIGINT) AS saa,
               CAST(SUM(b * b) AS BIGINT) AS sbb,
               CAST(SUM(a * b) AS BIGINT) AS sab
        FROM vals GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND((2.0 * (sa * 1.0 / n) * (sb * 1.0 / n) + 6.5025)
                 / ((sa * 1.0 / n) * (sa * 1.0 / n)
                    + (sb * 1.0 / n) * (sb * 1.0 / n) + 6.5025), 6)
               AS luminance_term,
           ROUND((2.0 * (CAST(sab AS DOUBLE) / n - (sa * 1.0 / n) * (sb * 1.0 / n))
                  + 58.5225)
                 / ((CAST(saa AS DOUBLE) / n - (sa * 1.0 / n) * (sa * 1.0 / n))
                    + (CAST(sbb AS DOUBLE) / n - (sb * 1.0 / n) * (sb * 1.0 / n))
                    + 58.5225), 6) AS structure_term
    FROM mom
    """,
)
def mm_image_ssim_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global SSIM decomposition (Wang et al. 2004, public) between
    each REAL decoded PNG and a +40 brightness-shifted variant of
    itself: the luminance term drops (means differ) while the
    contrast-structure term stays ~1 (variance and covariance are the
    pure shift's) — exactly the separation SSIM exists to provide, and
    the reason image-dedup uses it over raw MSE (which punishes
    exposure shifts as if they were content changes). Both frames
    round-trip the stdlib PNG codec; moments accumulate in numpy.

    Determinism: pixel moments are exact integers; both terms are one
    fixed double formula (standard C1=6.5025, C2=58.5225 for 8-bit).

    Scale shape: one mapInPandas pass, one row per image pair, no
    shuffle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray, png_encode_gray

    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select("doc_id")
    )

    def ssim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = {"doc_id": [], "luminance_term": [], "structure_term": []}
        for pdf in batches:
            for doc_id in pdf["doc_id"]:
                w, h = 16 + doc_id % 16, 16 + (doc_id * 3) % 16
                pa = png_encode_gray(
                    w, h, lambda x, y: (x * 7 + y * 13 + doc_id) % 200
                )
                pb = png_encode_gray(
                    w, h, lambda x, y: (x * 7 + y * 13 + doc_id) % 200 + 40
                )
                _, _, ba = png_decode_gray(pa)
                _, _, bb = png_decode_gray(pb)
                a = np.frombuffer(ba, dtype=np.uint8).astype(np.int64)
                b = np.frombuffer(bb, dtype=np.uint8).astype(np.int64)
                n = a.size
                sa, sb = int(a.sum()), int(b.sum())
                saa, sbb, sab = int((a * a).sum()), int((b * b).sum()), int((a * b).sum())
                ma, mb = sa / n, sb / n
                va = saa / n - ma * ma
                vb = sbb / n - mb * mb
                cab = sab / n - ma * mb
                lum = (2.0 * ma * mb + 6.5025) / (ma * ma + mb * mb + 6.5025)
                struct = (2.0 * cab + 58.5225) / (va + vb + 58.5225)
                out["doc_id"].append(doc_id)
                out["luminance_term"].append(round(lum, 6))
                out["structure_term"].append(round(struct, 6))
        yield pd.DataFrame(out)

    return d.mapInPandas(
        ssim, schema="doc_id long, luminance_term double, structure_term double"
    )
