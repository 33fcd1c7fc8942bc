"""Wave-93: AR(2) Yule-Walker estimation, Chinchilla compute-optimal
planning over the real corpus, and Otsu thresholding of decoded PNGs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_ar2_yule_walker",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
        GROUP BY day
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS total
            FROM daily),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, n * x - total AS dev, n
        FROM daily, tot
    ),
    moments AS (
        SELECT
          (SELECT CAST(SUM(dev * dev) AS BIGINT) FROM idx) AS c0,
          (SELECT CAST(SUM(a.dev * b.dev) AS BIGINT)
           FROM idx a JOIN idx b ON b.i = a.i - 1) AS c1,
          (SELECT CAST(SUM(a.dev * b.dev) AS BIGINT)
           FROM idx a JOIN idx b ON b.i = a.i - 2) AS c2,
          (SELECT dev FROM idx ORDER BY i DESC LIMIT 1) AS dlast,
          (SELECT dev FROM idx ORDER BY i DESC LIMIT 1 OFFSET 1) AS dprev,
          (SELECT MAX(n) FROM idx) AS n,
          (SELECT MAX(total) FROM tot) AS total
    ),
    fit AS (
        SELECT n, total, dlast, dprev,
               CAST(c1 AS DOUBLE) / c0 AS r1,
               CAST(c2 AS DOUBLE) / c0 AS r2
        FROM moments
    )
    SELECT ROUND(r1, 6) AS acf1,
           ROUND(r2, 6) AS acf2,
           ROUND(r1 * (1 - r2) / (1 - r1 * r1), 6) AS phi1,
           ROUND((r2 - r1 * r1) / (1 - r1 * r1), 6) AS phi2,
           ROUND(CAST(total AS DOUBLE) / n
                 + (r1 * (1 - r2) / (1 - r1 * r1)) * dlast / CAST(n AS DOUBLE)
                 + ((r2 - r1 * r1) / (1 - r1 * r1)) * dprev / CAST(n AS DOUBLE),
                 4) AS forecast_next
    FROM fit
    """,
)
def model_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) autoregression via the Yule-Walker equations (1927/1931,
    public) on the daily purchase-count series: closed-form
    phi1 = r1(1-r2)/(1-r1²), phi2 = (r2-r1²)/(1-r1²) from the first
    two autocorrelations, plus the one-step-ahead forecast — the
    simplest model that captures momentum AND mean reversion, sitting
    between the registry's naive backtest and Holt smoothing.

    Determinism: deviations are exact integer n*x - total; lag
    cross-products come from an offset self-join and sum as exact
    BIGINTs; r1, r2, the phis and the forecast are fixed double
    formulas rounded at display.

    Scale shape: groupBy-to-days then constant-size joins on the day
    index — per-series work that partitions by metric key at 100 TB."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("total")
    )
    idx = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(Window.orderBy("day")).alias("i"),
            (F.col("n") * F.col("x") - F.col("total")).alias("dev"),
            "n",
            "total",
        )
    )
    c0 = idx.agg(F.sum(F.col("dev") * F.col("dev")).cast("long").alias("c0"))
    a1 = idx.select(F.col("i").alias("ia"), F.col("dev").alias("da"))
    b1 = idx.select(F.col("i").alias("ib"), F.col("dev").alias("db"))
    c1 = (
        a1.join(b1, F.col("ib") == F.col("ia") - 1)
        .agg(F.sum(F.col("da") * F.col("db")).cast("long").alias("c1"))
    )
    c2 = (
        a1.join(b1, F.col("ib") == F.col("ia") - 2)
        .agg(F.sum(F.col("da") * F.col("db")).cast("long").alias("c2"))
    )
    # last and previous deviations via ordered limit + pivot
    tail = idx.orderBy(F.desc("i")).limit(2).select("i", "dev", "n", "total")
    wmax = tail.agg(F.max("i").alias("imax"))
    last_piv = tail.crossJoin(F.broadcast(wmax)).agg(
        F.max(F.when(F.col("i") == F.col("imax"), F.col("dev"))).alias("dlast"),
        F.max(F.when(F.col("i") == F.col("imax") - 1, F.col("dev"))).alias("dprev"),
        F.max("n").alias("n"),
        F.max("total").alias("total"),
    )
    fit = (
        c0.crossJoin(c1)
        .crossJoin(c2)
        .crossJoin(last_piv)
        .select(
            "n",
            "total",
            "dlast",
            "dprev",
            (F.col("c1").cast("double") / F.col("c0")).alias("r1"),
            (F.col("c2").cast("double") / F.col("c0")).alias("r2"),
        )
    )
    phi1 = F.col("r1") * (1 - F.col("r2")) / (1 - F.col("r1") * F.col("r1"))
    phi2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (1 - F.col("r1") * F.col("r1"))
    return fit.select(
        F.round("r1", 6).alias("acf1"),
        F.round("r2", 6).alias("acf2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(
            F.col("total").cast("double") / F.col("n")
            + phi1 * F.col("dlast") / F.col("n").cast("double")
            + phi2 * F.col("dprev") / F.col("n").cast("double"),
            4,
        ).alias("forecast_next"),
    )


@query(
    "pipeline_chinchilla_budget",
    oracle="""
    WITH corpus AS (
        SELECT CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)
                    AS BIGINT) AS corpus_tokens
        FROM documents
    ),
    budgets(flops) AS (VALUES (1e18), (1e20), (1e22))
    SELECT flops,
           corpus_tokens,
           ROUND(SQRT(flops / 120.0), 0) AS n_params_opt,
           ROUND(20 * SQRT(flops / 120.0), 0) AS d_tokens_opt,
           ROUND(20 * SQRT(flops / 120.0) / corpus_tokens, 4) AS epochs_needed,
           20 * SQRT(flops / 120.0) <= corpus_tokens AS single_epoch_feasible
    FROM corpus, budgets
    ORDER BY flops
    """,
)
def pipeline_chinchilla_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chinchilla compute-optimal planning (Hoffmann et al. 2022,
    public): under the C = 6ND flops identity and the D ≈ 20N optimum,
    each training budget implies N_opt = sqrt(C/120) parameters and
    D_opt = 20·N_opt tokens — joined against the REAL corpus token
    count to answer the first question of any pretraining run: 'does
    this corpus cover the optimal token budget, and at how many
    epochs?'.

    Determinism: corpus tokens are exact whitespace-token counts; the
    plan numbers are IEEE sqrt arithmetic on literals, one division
    for epochs, rounded.

    Scale shape: one map-side-combined token-count aggregate over the
    corpus; the budget grid is a 3-row literal cross join."""
    corpus = table(spark, sf_dir, "documents").agg(
        F.sum(
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
        )
        .cast("long")
        .alias("corpus_tokens")
    )
    budgets = spark.createDataFrame(
        [(1e18,), (1e20,), (1e22,)], "flops double"
    )
    n_opt = F.sqrt(F.col("flops") / 120.0)
    return (
        corpus.crossJoin(F.broadcast(budgets))
        .select(
            "flops",
            "corpus_tokens",
            F.round(n_opt, 0).alias("n_params_opt"),
            F.round(20 * n_opt, 0).alias("d_tokens_opt"),
            F.round(20 * n_opt / F.col("corpus_tokens"), 4).alias("epochs_needed"),
            (20 * n_opt <= F.col("corpus_tokens")).alias("single_epoch_feasible"),
        )
        .orderBy("flops")
    )


@query(
    "mm_image_otsu",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, (x * 7 + y * 13 + doc_id) % 256 AS v FROM px
    ),
    hist AS (
        SELECT doc_id, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM vals GROUP BY doc_id, v
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nt,
               CAST(SUM(v * c) AS BIGINT) AS st
        FROM hist GROUP BY doc_id
    ),
    cum AS (
        SELECT h.doc_id, h.v,
               SUM(h.c) OVER (PARTITION BY h.doc_id ORDER BY h.v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n0,
               SUM(h.v * h.c) OVER (PARTITION BY h.doc_id ORDER BY h.v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS s0,
               t.nt, t.st
        FROM hist h JOIN tot t ON t.doc_id = h.doc_id
    ),
    scored AS (
        SELECT doc_id, v AS threshold, n0, nt,
               CAST(st * n0 - CAST(nt AS HUGEINT) * s0 AS DOUBLE)
                 * CAST(st * n0 - CAST(nt AS HUGEINT) * s0 AS DOUBLE)
                 / (CAST(n0 AS DOUBLE) * (nt - n0)) AS bc_var
        FROM cum WHERE n0 < nt
    )
    SELECT doc_id, threshold,
           bc_var / (CAST(nt AS DOUBLE) * nt) AS between_var,
           CAST(nt - n0 AS DOUBLE) / nt AS fg_fraction
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY bc_var DESC, threshold) AS rk
          FROM scored) s
    WHERE rk = 1
    ORDER BY doc_id
    """,
)
def mm_image_otsu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu's automatic threshold (1979, public) per REAL decoded PNG:
    the gray level maximizing between-class variance
    (S·n0 - N·s0)² / (n0·(N-n0)·N²) — the zero-parameter binarization
    every document-image / mask-extraction pipeline starts with.
    Reports the chosen threshold, the attained (normalized) variance,
    and the resulting foreground fraction.

    Determinism: histograms and their cumulative sums are exact
    BIGINTs; the variance numerator is computed in wide integers (the
    cross product reaches ~2^70 at 32x62 images, hence HUGEINT/ python
    int) then ONE cast to double; the argmax breaks ties toward the
    smaller threshold; display rounds.

    Scale shape: mapInPandas per image (numpy bincount + cumsum sweep)
    with one row out; the relational window sweep exists only in the
    oracle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def otsu_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                v = np.frombuffer(pix, dtype=np.uint8)
                hist = np.bincount(v, minlength=256).astype(object)
                nt = int(hist.sum())
                st = int((np.arange(256, dtype=object) * hist).sum())
                n0 = 0
                s0 = 0
                best_t, best_num = None, -1
                best_n0 = 0
                for t in range(256):
                    n0 += int(hist[t])
                    s0 += t * int(hist[t])
                    if n0 == 0 or n0 >= nt:
                        continue
                    # float() the integer cross-term BEFORE squaring, and
                    # emit unrounded — both mirror the oracle's double chain
                    # exactly (kernel round() would be banker's anyway)
                    x = float(st * n0 - nt * s0)
                    num = x * x / (n0 * (nt - n0))
                    if num > best_num:
                        best_num, best_t, best_n0 = num, t, n0
                rows.append(
                    (
                        doc_id,
                        best_t,
                        best_num / float(nt * nt),
                        (nt - best_n0) / nt,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "threshold", "between_var", "fg_fraction"]
            )

    return payloads.mapInPandas(
        otsu_batches,
        schema="doc_id long, threshold int, between_var double, fg_fraction double",
    )
