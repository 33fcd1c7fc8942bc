"""Wave-84: closed-form 2-feature PCA from exact moments, Warner
randomized response with a portable hash coin, and zero-crossing rate
over real decoded WAVs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_pca_closed_form",
    oracle="""
    WITH x AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS d
        FROM lineitem
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sx, CAST(SUM(d) AS BIGINT) AS sy,
               CAST(SUM(q * q) AS BIGINT) AS sxx,
               CAST(SUM(d * d) AS BIGINT) AS syy,
               CAST(SUM(q * d) AS BIGINT) AS sxy
        FROM x
    ),
    v AS (
        SELECT n,
               CAST(n * sxx - sx * sx AS DOUBLE) AS vxx,
               CAST(n * syy - sy * sy AS DOUBLE) AS vyy,
               CAST(n * sxy - sx * sy AS DOUBLE) AS vxy
        FROM m
    ),
    eig AS (
        SELECT n, vxx, vyy, vxy,
               (vxx + vyy + SQRT((vxx - vyy) * (vxx - vyy) + 4 * vxy * vxy)) / 2
                   AS l1,
               (vxx + vyy - SQRT((vxx - vyy) * (vxx - vyy) + 4 * vxy * vxy)) / 2
                   AS l2
        FROM v
    )
    SELECT n,
           ROUND(l1 / (l1 + l2), 6) AS explained_ratio,
           CASE WHEN vxy = 0 THEN 0.0
                ELSE ROUND((l1 - vxx) / vxy, 6) END AS pc1_slope,
           ROUND(vxy / SQRT(vxx * vyy), 6) AS corr_xy
    FROM eig
    """,
)
def model_pca_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form 2-feature PCA (Pearson 1901, public) of
    (l_quantity, discount-cents): the 2x2 covariance eigendecomposition
    in one aggregation pass — explained-variance ratio of the first
    component, its slope dy/dx, and the plain correlation for context.
    This is the histogram-of-moments strategy every distributed PCA
    uses for the Gram step (compute X'X partials map-side, solve the
    tiny eigenproblem centrally); with 2 features the solve is literal
    arithmetic.

    Determinism: both features are exact small integers, so the five
    moment sums and the centered n-scaled (co)variances are exact
    BIGINTs well inside 2^63; each is cast ONCE to double, and the
    eigenvalues use only +,*,/ and IEEE-exact SQRT — bit-identical in
    both engines; display rounds 6dp. The slope is reported instead of
    the angle because atan2 is libm-dependent, sqrt is not.

    Scale shape: one projection + one global aggregate of 5 partials
    (map-side combined); K features need K(K+1)/2 sums and the same
    single-pass plan."""
    x = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    m = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("sx"),
        F.sum("d").cast("long").alias("sy"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sxx"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("syy"),
        F.sum(F.col("q") * F.col("d")).cast("long").alias("sxy"),
    )
    v = m.select(
        "n",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("vxx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double").alias("vyy"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double").alias("vxy"),
    )
    disc = F.sqrt(
        (F.col("vxx") - F.col("vyy")) * (F.col("vxx") - F.col("vyy"))
        + 4 * F.col("vxy") * F.col("vxy")
    )
    eig = v.select(
        "n",
        "vxx",
        "vyy",
        "vxy",
        ((F.col("vxx") + F.col("vyy") + disc) / 2).alias("l1"),
        ((F.col("vxx") + F.col("vyy") - disc) / 2).alias("l2"),
    )
    return eig.select(
        "n",
        F.round(F.col("l1") / (F.col("l1") + F.col("l2")), 6).alias("explained_ratio"),
        F.when(F.col("vxy") == 0, F.lit(0.0))
        .otherwise(F.round((F.col("l1") - F.col("vxx")) / F.col("vxy"), 6))
        .alias("pc1_slope"),
        F.round(F.col("vxy") / F.sqrt(F.col("vxx") * F.col("vyy")), 6).alias("corr_xy"),
    )


@query(
    "privacy_randomized_response",
    oracle="""
    WITH resp AS (
        SELECT c_acctbal < 0 AS truth,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(c_custkey AS VARCHAR) || '|rr'),
                                        1, 8)) AS BIGINT) % 4 AS coin
        FROM customer
    ),
    reported AS (
        SELECT truth,
               CASE WHEN coin <= 1 THEN truth
                    WHEN coin = 2 THEN TRUE
                    ELSE FALSE END AS answer
        FROM resp
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
               CAST(SUM(CASE WHEN answer THEN 1 ELSE 0 END) AS BIGINT) AS n_yes
        FROM reported
    )
    SELECT n,
           ROUND(n_true * 1.0 / n, 6) AS true_rate,
           ROUND(n_yes * 1.0 / n, 6) AS reported_rate,
           ROUND(2.0 * n_yes / n - 0.5, 6) AS estimated_rate,
           ROUND(ABS((2.0 * n_yes / n - 0.5) - n_true * 1.0 / n), 6) AS abs_error
    FROM agg
    """,
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response (1965, public), the original local
    differential privacy mechanism: each customer answers the sensitive
    question ('is your balance negative?') truthfully with probability
    1/2, otherwise answers a fixed yes/no coin — individual answers are
    deniable, yet the population rate is recoverable as
    p_hat = 2*yes_rate - 1/2. The mechanism's coin is the engine's
    standard portable salted-MD5 hash (as in pipeline_kfold_assign), so
    the whole 'randomized' survey replays bit-identically — the same
    derandomization discipline as privacy_dp_laplace_hashnoise.

    Determinism: coins, counts and the estimator are integers plus one
    fixed double formula, rounded 6dp.

    Scale shape: a projection plus one global aggregate; nothing
    shuffles but 3 partial counters per partition."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("|rr"))), 1, 8),
        16,
        10,
    ).cast("long")
    resp = table(spark, sf_dir, "customer").select(
        (F.col("c_acctbal") < 0).alias("truth"), (h % 4).alias("coin")
    )
    reported = resp.select(
        "truth",
        F.when(F.col("coin") <= 1, F.col("truth"))
        .when(F.col("coin") == 2, F.lit(True))
        .otherwise(F.lit(False))
        .alias("answer"),
    )
    agg = reported.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).cast("long").alias("n_true"),
        F.sum(F.when(F.col("answer"), 1).otherwise(0)).cast("long").alias("n_yes"),
    )
    est = 2.0 * F.col("n_yes") / F.col("n") - 0.5
    true_rate = F.col("n_true") / F.col("n")
    return agg.select(
        "n",
        F.round(true_rate, 6).alias("true_rate"),
        F.round(F.col("n_yes") / F.col("n"), 6).alias("reported_rate"),
        F.round(est, 6).alias("estimated_rate"),
        F.round(F.abs(est - true_rate), 6).alias("abs_error"),
    )


@query(
    "mm_audio_zcr",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 800 + (doc_id % 10) * 80 AS n_frames
        FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT doc_id, n_frames, UNNEST(RANGE(n_frames)) AS i FROM docs),
    samples AS (
        SELECT doc_id, n_frames, i,
               (i * (doc_id + 7)) % 2048 - 1024 AS s
        FROM idx
    ),
    pairs AS (
        SELECT doc_id, n_frames, s,
               LEAD(s) OVER (PARTITION BY doc_id ORDER BY i) AS s_next
        FROM samples
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s * s_next < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_crossings,
           ROUND(SUM(CASE WHEN s * s_next < 0 THEN 1 ELSE 0 END) * 1.0
                 / (MAX(n_frames) - 1), 6) AS zcr
    FROM pairs WHERE s_next IS NOT NULL
    GROUP BY doc_id
    """,
)
def mm_audio_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing rate per REAL decoded WAV (the classic
    voiced/unvoiced + percussivity feature of audio analysis, public):
    the fraction of adjacent sample pairs whose product is negative.
    Complements mm_audio_energy_gate (energy) and mm_audio_spectral
    (frequency) with the cheapest time-domain feature a multimodal
    ingest computes while the bytes are already in cache.

    Determinism: sign changes are integer comparisons on exact PCM16
    values; one final division rounds 6dp. The oracle re-derives every
    sample from the generator formula and walks pairs with LEAD.

    Scale shape: Arrow-batched mapInPandas, one row per clip, zero
    shuffle — the crossing count is np.signbit arithmetic inside the
    batch."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import wav_decode_pcm16
    from data_ingestor_web_app_spark.llm.multimodal import _audio_payloads

    payloads = _audio_payloads(spark, sf_dir)

    def zcr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, _n, samples = wav_decode_pcm16(bytes(payload))
                s = np.asarray(samples, dtype=np.int64)
                prod = s[:-1] * s[1:]
                n_cross = int((prod < 0).sum())
                rows.append((doc_id, n_cross, round(n_cross / (len(s) - 1), 6)))
            yield pd.DataFrame(rows, columns=["doc_id", "n_crossings", "zcr"])

    return payloads.mapInPandas(
        zcr_batches, schema="doc_id long, n_crossings long, zcr double"
    )
