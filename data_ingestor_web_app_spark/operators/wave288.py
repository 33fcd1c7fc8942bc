"""Wave-288: the Goertzel filter bank — single-frequency DFT probes at
the eight DTMF tone frequencies per decoded WAV, with the dominant
row/column tone pair (how touch-tone decoding actually works, and the
cheap "is THIS frequency present" primitive that beats a full FFT when
you only care about a handful of bins).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from data_ingestor_web_app_spark.registry import query

_DTMF = [697.0, 770.0, 852.0, 941.0, 1209.0, 1336.0, 1477.0, 1633.0]
_RATE = 8000.0


@query(
    "mm_audio_goertzel_bank",
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
    freqs AS (SELECT UNNEST(ARRAY{_DTMF}) AS f),
    proj AS (
        SELECT doc_id, f.f,
               SUM(s * COS(2 * PI() * f.f / {_RATE!r} * i)) AS c,
               SUM(s * SIN(2 * PI() * f.f / {_RATE!r} * i)) AS sn,
               ANY_VALUE(n_frames) AS n
        FROM samples CROSS JOIN freqs f
        GROUP BY doc_id, f.f
    ),
    energy AS (
        SELECT doc_id, f,
               (c * c + sn * sn) / (CAST(n AS DOUBLE) * n) AS e
        FROM proj
    ),
    best AS (
        SELECT doc_id, f, e,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY e DESC, f) AS rk,
               SUM(e) OVER (PARTITION BY doc_id) AS etot
        FROM energy
    )
    SELECT doc_id,
           ROUND(f, 1) AS dominant_hz,
           ROUND(e, 2) AS dominant_energy,
           ROUND(e / etot, 6) AS dominance_share
    FROM best WHERE rk = 1
    """,
)
def mm_audio_goertzel_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel filter-bank energies (Goertzel, American Math. Monthly
    1958, public) at the eight DTMF tone frequencies per decoded WAV:
    each probe is the squared magnitude of the single-bin DFT
    projection |sum s_i e^{{-j w i}}|^2 / n^2 — O(n) per frequency,
    which is why tone decoders use Goertzel instead of a full FFT when
    only 8 bins matter (the same economics as probing 100 TB of audio
    for one alarm tone). Emits the dominant tone and its share of the
    bank's energy; on the generator's sawtooth the dominant bin tracks
    the signal's period, asserted against a numpy DFT in the test.

    Determinism: trig at bounded arguments (< 2*pi*1633/8000*1520 ~
    1950 rad — within cross-libm ulp agreement), energies rounded at
    2 dp (magnitudes ~1e6; cross-engine summation-order jitter sits
    near 1e-3 at this scale, so 2 dp is the safe display grain); the argmax
    has a total order.

    Scale shape: Arrow-batched mapInPandas (numpy dot against eight
    cos/sin vectors) per file; the oracle's explode-and-sum exists for
    verification."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import wav_decode_pcm16
    from data_ingestor_web_app_spark.llm.multimodal import _audio_payloads

    payloads = _audio_payloads(spark, sf_dir)

    def goertzel_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, n, samples = wav_decode_pcm16(bytes(payload))
                s = np.asarray(samples, dtype=np.float64)
                i = np.arange(n, dtype=np.float64)
                best = None
                etot = 0.0
                for f in _DTMF:
                    w = 2 * math.pi * f / _RATE
                    c = float(s @ np.cos(w * i))
                    sn = float(s @ np.sin(w * i))
                    e = (c * c + sn * sn) / (float(n) * n)
                    etot += e
                    if best is None or (e, -f) > (best[1], -best[0]):
                        best = (f, e)
                rows.append(
                    (
                        doc_id,
                        round(best[0], 1),
                        round(best[1], 2),
                        round(best[1] / etot, 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "dominant_hz",
                    "dominant_energy",
                    "dominance_share",
                ],
            )

    return payloads.mapInPandas(
        goertzel_batches,
        schema=(
            "doc_id long, dominant_hz double, dominant_energy double,"
            " dominance_share double"
        ),
    )
