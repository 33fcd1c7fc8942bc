"""Wave-274: two more integer-exact signal descriptors on the real
codec paths — the Euler number of the Otsu-binarized image via Gray's
quad-pattern counts (connected components MINUS holes, no labeling
pass), and autocorrelation pitch detection per WAV.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from data_ingestor_web_app_spark.registry import query

# Fixed binarization threshold (the generator's mid-gray); Otsu would be
# another op's job (mm_image_otsu) — Euler needs A threshold, not THE
# threshold, and a literal keeps the quad counts integer-reproducible.
_BIN_T = 128


@query(
    "mm_image_euler_number",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(-1, h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(-1, w)) AS x FROM ys),
    quads AS (
        SELECT doc_id,
               (CASE WHEN x >= 0 AND y >= 0
                     AND (x * 7 + y * 13 + doc_id) % 256 >= {_BIN_T}
                     THEN 1 ELSE 0 END) AS a,
               (CASE WHEN x + 1 < w AND y >= 0
                     AND ((x + 1) * 7 + y * 13 + doc_id) % 256 >= {_BIN_T}
                     THEN 1 ELSE 0 END) AS b,
               (CASE WHEN x >= 0 AND y + 1 < h
                     AND (x * 7 + (y + 1) * 13 + doc_id) % 256 >= {_BIN_T}
                     THEN 1 ELSE 0 END) AS c,
               (CASE WHEN x + 1 < w AND y + 1 < h
                     AND ((x + 1) * 7 + (y + 1) * 13 + doc_id) % 256
                         >= {_BIN_T}
                     THEN 1 ELSE 0 END) AS d
        FROM px
    ),
    cls AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN a + b + c + d = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS q1,
               CAST(SUM(CASE WHEN a + b + c + d = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS q3,
               CAST(SUM(CASE WHEN a + d = 2 AND b + c = 0 THEN 1
                             WHEN b + c = 2 AND a + d = 0 THEN 1
                             ELSE 0 END) AS BIGINT) AS qd,
               CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_fg
        FROM quads GROUP BY doc_id
    )
    SELECT doc_id, n_fg AS n_foreground, q1, q3, qd,
           CAST((q1 - q3 + 2 * qd) AS BIGINT) AS euler4_x4,
           CAST((q1 - q3 - 2 * qd) AS BIGINT) AS euler8_x4
    FROM cls
    """,
)
def mm_image_euler_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euler number of the binarized image via Gray's quad-pattern
    counts (Gray, IEEE Trans. Computers 1971, public): slide a 2x2
    window over the padded binary image, count quads with exactly one
    foreground pixel (Q1), exactly three (Q3), and the two diagonal
    patterns (QD); then 4*E_4 = Q1 - Q3 + 2*QD and 4*E_8 = Q1 - Q3 -
    2*QD. E = components - holes WITHOUT any labeling pass — the
    O(pixels), embarrassingly parallel topology counter (contrast
    graph_connected_components' iterative propagation). Emitted times
    4 to stay integer.

    Determinism: pure integer pattern counting on the closed-form
    pixels (oracle) / the decoded bytes (engine); padding handled by
    ranging from -1 so border quads count correctly.

    Scale shape: mapInPandas numpy 2x2 shifts + bincount per image,
    one row per image, zero shuffle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def euler_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = (
                    np.frombuffer(pix, dtype=np.uint8).reshape(h, w)
                    >= _BIN_T
                ).astype(np.int64)
                pad = np.zeros((h + 2, w + 2), dtype=np.int64)
                pad[1:-1, 1:-1] = img
                a = pad[:-1, :-1]
                b = pad[:-1, 1:]
                c = pad[1:, :-1]
                d = pad[1:, 1:]
                s = a + b + c + d
                q1 = int((s == 1).sum())
                q3 = int((s == 3).sum())
                qd = int(
                    (((a + d) == 2) & ((b + c) == 0)).sum()
                    + (((b + c) == 2) & ((a + d) == 0)).sum()
                )
                rows.append(
                    (
                        doc_id,
                        int(img.sum()),
                        q1,
                        q3,
                        qd,
                        q1 - q3 + 2 * qd,
                        q1 - q3 - 2 * qd,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_foreground",
                    "q1",
                    "q3",
                    "qd",
                    "euler4_x4",
                    "euler8_x4",
                ],
            )

    return payloads.mapInPandas(
        euler_batches,
        schema=(
            "doc_id long, n_foreground long, q1 long, q3 long, qd long,"
            " euler4_x4 long, euler8_x4 long"
        ),
    )


_PITCH_LO, _PITCH_HI = 20, 200  # lag range: 8 kHz / lag -> 40..400 Hz


@query(
    "mm_audio_pitch_autocorr",
    oracle=f"""
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
    lags AS (SELECT UNNEST(RANGE({_PITCH_LO}, {_PITCH_HI + 1})) AS k),
    slists AS (
        SELECT doc_id, ANY_VALUE(n_frames) AS n,
               LIST(s ORDER BY i) AS sl
        FROM samples GROUP BY doc_id
    ),
    ac AS (
        -- vectorized list-slice dot product per (doc, lag): products are
        -- < 2^53 so the double-valued dot is integer-exact
        SELECT doc_id, l.k,
               CAST(LIST_DOT_PRODUCT(sl[1 : n - l.k],
                                     sl[l.k + 1 : n]) AS BIGINT) AS r
        FROM slists CROSS JOIN lags l
    ),
    r0 AS (
        SELECT doc_id, CAST(SUM(s * s) AS BIGINT) AS r0 FROM samples
        GROUP BY doc_id
    ),
    best AS (
        SELECT doc_id, k, r,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY r DESC, k) AS rk
        FROM ac
    )
    SELECT b.doc_id, b.k AS best_lag,
           ROUND(8000.0 / b.k, 6) AS pitch_hz,
           ROUND(b.r / CAST(z.r0 AS DOUBLE), 6) AS periodicity
    FROM best b JOIN r0 z ON z.doc_id = b.doc_id
    WHERE b.rk = 1
    """,
)
def mm_audio_pitch_autocorr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Autocorrelation pitch detection per decoded WAV (the classical
    ACF pitch tracker, Rabiner, IEEE TASSP 1977, public): the lag
    k in [20, 200] samples maximizing r(k) = sum s_i s_{{i+k}} (ties to
    the smaller lag) gives the fundamental at 8000/k Hz; the
    periodicity score r(k*)/r(0) in [-1, 1] separates voiced/periodic
    from noise. The generator's sawtooth-like signal has an exact
    integer period — asserted in this wave's test.

    Determinism: r(k) are EXACT BIGINT sums of integer products; the
    argmax has a total order; two rounded outputs.

    Scale shape: mapInPandas numpy correlate per file, one row per
    file; the oracle's lag join exists only for verification."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import wav_decode_pcm16
    from data_ingestor_web_app_spark.llm.multimodal import _audio_payloads

    payloads = _audio_payloads(spark, sf_dir)

    def pitch_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, _n, samples = wav_decode_pcm16(bytes(payload))
                s = np.asarray(samples, dtype=np.int64)
                r0 = int(s @ s)
                best_k, best_r = None, None
                for k in range(_PITCH_LO, _PITCH_HI + 1):
                    r = int(s[:-k] @ s[k:])
                    if best_r is None or r > best_r:
                        best_k, best_r = k, r
                rows.append(
                    (
                        doc_id,
                        best_k,
                        round(8000.0 / best_k, 6),
                        round(best_r / r0, 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "best_lag", "pitch_hz", "periodicity"],
            )

    return payloads.mapInPandas(
        pitch_batches,
        schema=(
            "doc_id long, best_lag long, pitch_hz double,"
            " periodicity double"
        ),
    )
