"""Wave-308: Gunning Fog + SMOG readability (complex-word based) and
crest factor + spectral flatness over the decoded WAV column.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_RATE = 8000.0
_DTMF = [697.0, 770.0, 852.0, 941.0, 1209.0, 1336.0, 1477.0, 1633.0]


@query(
    "text_fog_smog",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    per_tok AS (
        SELECT doc_id, w,
               LEN(REGEXP_EXTRACT_ALL(w, '[aeiouy]+')) >= 3 AS complex
        FROM toks
    ),
    m AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS words,
               CAST(SUM(CASE WHEN complex THEN 1 ELSE 0 END) AS BIGINT)
                   AS complex_words
        FROM per_tok GROUP BY doc_id
    ),
    s AS (
        SELECT d.doc_id, m.words, m.complex_words,
               CAST(GREATEST(
                    LENGTH(d.text)
                      - LENGTH(REPLACE(REPLACE(REPLACE(d.text, '.', ''),
                                               '!', ''), '?', '')),
                    1) AS BIGINT) AS sentences
        FROM documents d JOIN m ON d.doc_id = m.doc_id
    )
    SELECT doc_id, words, complex_words, sentences,
           ROUND(0.4 * (CAST(words AS DOUBLE) / sentences
                        + 100.0 * complex_words / words), 4) AS gunning_fog,
           ROUND(1.0430 * SQRT(CAST(complex_words AS DOUBLE) * 30
                               / sentences) + 3.1291, 4) AS smog_grade
    FROM s
    """,
)
def text_fog_smog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gunning Fog index (Gunning 1952) and SMOG grade (McLaughlin,
    J. Reading 1969 — both public): Fog = 0.4·(words/sentence +
    100·complex/words), SMOG = 1.043·sqrt(30·complex/sentences) +
    3.1291, with 'complex' = three or more vowel-group syllables (the
    same [aeiouy]+ proxy text_flesch_readability uses, applied
    per-word). Finishes the readability wall: syllable-rate (Flesch),
    long-word (LIX/RIX), letter-rate (Coleman-Liau), and now the two
    complex-word graders editors actually quote. Sentence count falls
    back to 1 on punctuation-free docs — same documented policy.

    Determinism: word/complex/sentence counts are exact integers from
    identical split/regex semantics; two rounded chains.

    Scale shape: explode -> per-doc partial-agg groupBy (the token
    shuffle every text op shares), one metadata join back to documents
    for the sentence count."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    m = toks.select(
        "doc_id",
        (
            F.size(F.expr("regexp_extract_all(w, '[aeiouy]+', 0)")) >= 3
        ).alias("complex"),
    ).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("words"),
        F.sum(F.when(F.col("complex"), 1).otherwise(0))
        .cast("long")
        .alias("complex_words"),
    )
    sent = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.greatest(
            F.length("text")
            - F.length(
                F.replace(
                    F.replace(
                        F.replace(F.col("text"), F.lit("."), F.lit("")),
                        F.lit("!"),
                        F.lit(""),
                    ),
                    F.lit("?"),
                    F.lit(""),
                )
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("sentences"),
    )
    s = m.join(sent, "doc_id")
    return s.select(
        "doc_id",
        "words",
        "complex_words",
        "sentences",
        F.round(
            0.4
            * (
                F.col("words").cast("double") / F.col("sentences")
                + 100.0 * F.col("complex_words") / F.col("words")
            ),
            4,
        ).alias("gunning_fog"),
        F.round(
            1.0430
            * F.sqrt(
                F.col("complex_words").cast("double") * 30 / F.col("sentences")
            )
            + 3.1291,
            4,
        ).alias("smog_grade"),
    )


@query(
    "mm_audio_crest_flatness",
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
    amp AS (
        SELECT doc_id,
               CAST(MAX(ABS(s)) AS BIGINT) AS peak,
               CAST(SUM(s * s) AS BIGINT) AS ss,
               CAST(MAX(n_frames) AS BIGINT) AS n
        FROM samples GROUP BY doc_id
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
        SELECT doc_id,
               (c * c + sn * sn) / (CAST(n AS DOUBLE) * n) AS e
        FROM proj
    ),
    flat AS (
        SELECT doc_id,
               EXP(AVG(LN(e))) / AVG(e) AS flatness
        FROM energy GROUP BY doc_id
    )
    SELECT a.doc_id,
           a.peak,
           ROUND(SQRT(CAST(a.ss AS DOUBLE) / a.n), 4) AS rms,
           ROUND(a.peak / SQRT(CAST(a.ss AS DOUBLE) / a.n), 6)
               AS crest_factor,
           ROUND(f.flatness, 6) AS bank_flatness
    FROM amp a JOIN flat f ON a.doc_id = f.doc_id
    """,
)
def mm_audio_crest_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crest factor and filter-bank spectral flatness per decoded WAV
    (both public: crest = peak/RMS, the clipping/dynamics number every
    loudness standard reports; Wiener spectral-flatness = geometric/
    arithmetic mean of band energies, ~1 for noise, ->0 for tones —
    here over the eight Goertzel DTMF probes of
    mm_audio_goertzel_bank). The routing pair a 100 TB audio intake
    wants before any model: crest flags clipped/dead uploads, flatness
    splits tonal from noisy content.

    Determinism: the decode is REAL (stdlib wave parser on the binary
    column, Arrow-batched mapInPandas); peak and sum-of-squares are
    exact integers (oracle replays the generator analytically);
    Goertzel trig follows wave-288's bounded-argument device, and
    flatness is a ratio of same-magnitude band sums — cross-engine
    jitter ~1e-9 against 6dp rounding.

    Scale shape: per-row Python with NO shuffle for the decode; the
    flatness needs only 8 projections per clip (the Goertzel
    economics), all inside one Arrow batch."""
    import math

    from data_ingestor_web_app_spark.llm.codecs import wav_decode_pcm16
    from data_ingestor_web_app_spark.llm.multimodal import _audio_payloads

    payloads = _audio_payloads(spark, sf_dir)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, n, samples = wav_decode_pcm16(bytes(payload))
                s = np.asarray(samples, dtype=np.float64)
                peak = int(np.abs(s).max())
                ss = int((s * s).sum())
                rms = math.sqrt(ss / n)
                i = np.arange(n, dtype=np.float64)
                es = []
                for f in _DTMF:
                    w = 2 * math.pi * f / _RATE * i
                    c = float((s * np.cos(w)).sum())
                    sn = float((s * np.sin(w)).sum())
                    es.append((c * c + sn * sn) / (n * n))
                flat = math.exp(sum(math.log(e) for e in es) / len(es)) / (
                    sum(es) / len(es)
                )
                rows.append(
                    (
                        int(doc_id),
                        peak,
                        round(rms, 4),
                        round(peak / rms, 6),
                        round(flat, 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "peak", "rms", "crest_factor", "bank_flatness"],
            )

    return payloads.mapInPandas(
        batches,
        schema=(
            "doc_id long, peak long, rms double, crest_factor double, "
            "bank_flatness double"
        ),
    )
