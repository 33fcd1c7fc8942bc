"""Wave-248: two more classical signal descriptors over the REAL codec
paths — order-2 linear predictive coding (Levinson-Durbin on exact
integer autocorrelations) per decoded WAV, and the projection-profile
analysis (row/column intensity sums, the classic document-skew /
layout screen) per decoded PNG.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from data_ingestor_web_app_spark.registry import query


@query(
    "mm_audio_lpc2",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 800 + (doc_id % 10) * 80 AS n_frames
        FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT doc_id, n_frames, UNNEST(RANGE(n_frames)) AS i FROM docs),
    samples AS (
        SELECT doc_id, n_frames, i,
               CAST((i * (doc_id + 7)) % 2048 - 1024 AS BIGINT) AS s
        FROM idx
    ),
    lagged AS (
        SELECT doc_id, n_frames, s,
               LEAD(s, 1) OVER (PARTITION BY doc_id ORDER BY i) AS s1,
               LEAD(s, 2) OVER (PARTITION BY doc_id ORDER BY i) AS s2
        FROM samples
    ),
    ac AS (
        SELECT doc_id, CAST(ANY_VALUE(n_frames) AS BIGINT) AS n,
               CAST(SUM(s * s) AS BIGINT) AS r0,
               CAST(SUM(CASE WHEN s1 IS NULL THEN 0 ELSE s * s1 END)
                    AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN s2 IS NULL THEN 0 ELSE s * s2 END)
                    AS BIGINT) AS r2
        FROM lagged GROUP BY doc_id
    ),
    ld AS (
        SELECT doc_id, n, r0, r1, r2,
               CAST(r1 AS DOUBLE) / r0 AS k1
        FROM ac
    ),
    ld2 AS (
        SELECT doc_id, n, r0, r2, r1, k1,
               r0 * (1 - k1 * k1) AS e1
        FROM ld
    ),
    ld3 AS (
        SELECT doc_id, n, r0, k1,
               (r2 - k1 * r1) / e1 AS k2, e1
        FROM ld2
    )
    SELECT doc_id, n,
           k1 * (1 - k2) AS a1,
           k2 AS a2,
           k1,
           ROUND(10 * LOG10(r0 / (e1 * (1 - k2 * k2))), 6)
               AS prediction_gain_db
    FROM ld3
    """,
)
def mm_audio_lpc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 linear predictive coding per decoded WAV (Makhoul, Proc.
    IEEE 1975, public): the Levinson-Durbin recursion unrolled to two
    reflection coefficients — k1 = r1/r0, E1 = r0(1-k1^2), k2 =
    (r2 - k1*r1)/E1 — giving predictor coefficients a1 = k1(1-k2),
    a2 = k2 and the prediction gain r0/E2 in dB: how much of the
    signal a 2-tap predictor explains, the first number any speech
    codec computes per frame.

    Exactness device: autocorrelations r0, r1, r2 are EXACT BIGINT sums
    of integer PCM products (the Spark side sums int64 numpy products);
    the recursion is one fixed division chain; LOG10 exists in both
    engines at moderate argument.

    Scale shape: mapInPandas over Arrow batches, numpy dot per file,
    one row per file, zero shuffle; the oracle's LEAD-window
    formulation exists only for verification."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import wav_decode_pcm16
    from data_ingestor_web_app_spark.llm.multimodal import _audio_payloads

    payloads = _audio_payloads(spark, sf_dir)

    def lpc_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, n, samples = wav_decode_pcm16(bytes(payload))
                s = np.asarray(samples, dtype=np.int64)
                r0 = int(s @ s)
                r1 = int(s[:-1] @ s[1:])
                r2 = int(s[:-2] @ s[2:])
                k1 = r1 / r0
                e1 = r0 * (1 - k1 * k1)
                k2 = (r2 - k1 * r1) / e1
                rows.append(
                    (
                        doc_id,
                        n,
                        k1 * (1 - k2),
                        k2,
                        k1,
                        # log10 differs by 1 ulp across libms — round it
                        # (a log of a rational never lands on a decimal
                        # tie, so banker's-vs-half-up cannot diverge);
                        # the rational chains a1/a2/k1 stay unrounded
                        round(
                            10 * float(np.log10(r0 / (e1 * (1 - k2 * k2)))),
                            6,
                        ),
                    )
                )
            # NO rounding: Python round() is banker's; the raw division
            # chains are bit-identical to the oracle's (wave87 lesson)
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n", "a1", "a2", "k1",
                         "prediction_gain_db"],
            )

    return payloads.mapInPandas(
        lpc_batches,
        schema=(
            "doc_id long, n long, a1 double, a2 double, k1 double,"
            " prediction_gain_db double"
        ),
    )


@query(
    "mm_image_projection_profile",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, w, h, x, y,
               CAST((x * 7 + y * 13 + doc_id) % 256 AS BIGINT) AS v
        FROM px
    ),
    rows_p AS (
        SELECT doc_id, ANY_VALUE(h) AS h, y,
               CAST(SUM(v) AS BIGINT) AS p
        FROM vals GROUP BY doc_id, y
    ),
    cols_p AS (
        SELECT doc_id, ANY_VALUE(w) AS w, x,
               CAST(SUM(v) AS BIGINT) AS q
        FROM vals GROUP BY doc_id, x
    ),
    rstat AS (
        SELECT doc_id, ANY_VALUE(h) AS n_rows,
               CAST(MIN(CASE WHEN rnk = 1 THEN y END) AS BIGINT) AS peak_row,
               (SUM(p * p) - CAST(SUM(p) AS DOUBLE) * SUM(p)
                             / COUNT(*)) / COUNT(*) AS var_row
        FROM (SELECT *, RANK() OVER (PARTITION BY doc_id
                                     ORDER BY p DESC, y) AS rnk
              FROM rows_p)
        GROUP BY doc_id
    ),
    cstat AS (
        SELECT doc_id, ANY_VALUE(w) AS n_cols,
               CAST(MIN(CASE WHEN rnk = 1 THEN x END) AS BIGINT) AS peak_col,
               (SUM(q * q) - CAST(SUM(q) AS DOUBLE) * SUM(q)
                             / COUNT(*)) / COUNT(*) AS var_col
        FROM (SELECT *, RANK() OVER (PARTITION BY doc_id
                                     ORDER BY q DESC, x) AS rnk
              FROM cols_p)
        GROUP BY doc_id
    )
    SELECT r.doc_id, r.n_rows, c.n_cols, r.peak_row, c.peak_col,
           r.var_row, c.var_col,
           CASE WHEN c.var_col = 0 THEN -1.0
                ELSE r.var_row / c.var_col END AS anisotropy
    FROM rstat r JOIN cstat c ON c.doc_id = r.doc_id
    """,
)
def mm_image_projection_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Projection-profile analysis per decoded PNG (the classic document
    layout/skew screen — horizontal and vertical intensity projections,
    per Srihari's document-analysis surveys, public): row sums p_y and
    column sums q_x, their population variances (high row-variance =
    strong horizontal banding, i.e. text lines), the peak row/column
    (ties to the smaller index), and the row/column variance anisotropy
    ratio that a skew detector maximizes over rotations.

    Exactness device: projections are exact BIGINT pixel sums; the
    variance numerator stays a sums-of-integers chain with one double
    division; peaks use a totally ordered RANK.

    Scale shape: mapInPandas numpy axis-sums per image, one row per
    image, zero shuffle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def proj_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w).astype(
                    np.int64
                )
                p = img.sum(axis=1)
                q = img.sum(axis=0)

                def var_int(a):
                    n = len(a)
                    sa = int(a.sum())
                    s2 = int((a * a).sum())
                    return (s2 - float(sa) * sa / n) / n

                vr, vc = var_int(p), var_int(q)
                rows.append(
                    (
                        doc_id,
                        h,
                        w,
                        int(np.argmax(p)),
                        int(np.argmax(q)),
                        vr,
                        vc,
                        -1.0 if vc == 0 else vr / vc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_rows",
                    "n_cols",
                    "peak_row",
                    "peak_col",
                    "var_row",
                    "var_col",
                    "anisotropy",
                ],
            )

    return payloads.mapInPandas(
        proj_batches,
        schema=(
            "doc_id long, n_rows long, n_cols long, peak_row long,"
            " peak_col long, var_row double, var_col double,"
            " anisotropy double"
        ),
    )
