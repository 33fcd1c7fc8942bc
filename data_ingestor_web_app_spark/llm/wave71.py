"""Wave-71: audio energy gating (VAD-style) over decoded WAV frames,
Lorenz decile curve, leave-one-source-out data valuation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_FRAME = 256
_GATE = 349525.0  # E[s^2] of uniform [-1024, 1024) — the noise floor


@query(
    "mm_audio_energy_gate",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 800 + (doc_id % 10) * 80 AS n
        FROM documents WHERE doc_id < 200
    ),
    samples AS (
        SELECT doc_id, n, UNNEST(RANGE(n)) AS i FROM docs
    ),
    framed AS (
        SELECT doc_id, CAST(i // 256 AS INT) AS frame,
               (i * (doc_id + 7)) % 2048 - 1024 AS s
        FROM samples WHERE i < 256 * (n // 256)
    ),
    fe AS (
        SELECT doc_id, frame, SUM(s * s) / 256.0 AS energy
        FROM framed GROUP BY doc_id, frame
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN energy > 349525.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active,
           SUM(CASE WHEN energy > 349525.0 THEN 1 ELSE 0 END) * 1.0
               / COUNT(*) AS active_frac
    FROM fe GROUP BY doc_id
    """,
)
def mm_audio_energy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity gating over REAL decoded WAV audio:
    each clip is framed into 256-sample windows, per-frame mean-square
    energy is compared against the uniform-noise floor, and the active
    fraction is what an audio-curation pipeline uses to drop silence
    and dead air before paying for transcription. Decode is the stdlib
    PCM16 WAV codec; the oracle re-derives every sample analytically,
    proving decode + framing + gating end-to-end.

    Determinism: frame energies are exact-integer sums divided by a
    dyadic constant; the gate compares against one literal.

    Scale shape: one mapInPandas pass, one output row per clip; no
    shuffle — framing never leaves the task."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import wav_decode_pcm16
    from data_ingestor_web_app_spark.llm.multimodal import _audio_payloads

    payloads = _audio_payloads(spark, sf_dir)

    def gate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "n_active": [], "active_frac": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, n, samples = wav_decode_pcm16(bytes(payload))
                arr = np.asarray(samples, dtype=np.int64)
                nf = len(arr) // _FRAME
                frames = arr[: nf * _FRAME].reshape(nf, _FRAME)
                energy = (frames * frames).sum(axis=1) / 256.0
                active = int((energy > _GATE).sum())
                out["doc_id"].append(doc_id)
                out["n_frames"].append(nf)
                out["n_active"].append(active)
                # one identical division both sides — no rounding (Python
                # banker's round vs SQL half-away diverges on boundaries)
                out["active_frac"].append(active / nf)
            yield pd.DataFrame(out)

    return payloads.mapInPandas(
        gate,
        schema="doc_id long, n_frames long, n_active long, active_frac double",
    )


@query(
    "events_lorenz_deciles",
    oracle="""
    WITH per AS (
        SELECT user_id,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id
    ),
    tiled AS (
        SELECT cents, NTILE(10) OVER (ORDER BY cents, user_id) AS decile
        FROM per
    ),
    d AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM tiled GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc FROM d)
    SELECT d.decile, d.n_users,
           ROUND(d.cents * 1.0 / tot.tc, 6) AS revenue_share,
           ROUND(SUM(d.cents) OVER (ORDER BY d.decile) * 1.0 / tot.tc, 6)
               AS cum_share
    FROM d, tot
    """,
)
def events_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve by user decile: users ranked by total event value,
    cut into ten equal-population tiles, each tile's revenue share and
    the cumulative curve — the decile table behind agg_gini's scalar
    (and the 'bottom 50% of users drive X% of value' sentences in every
    business review).

    Determinism: NTILE over a totally ordered (cents, user_id) rank;
    shares are exact integer ratios; the cumulative window runs over 10
    rows.

    Scale shape: per-user cents is one map-side-combined groupBy; the
    NTILE sort is over user aggregates (not raw events); everything
    after is a 10-row frame."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    tiled = per.select(
        "cents",
        F.ntile(10).over(Window.orderBy("cents", "user_id")).alias("decile"),
    )
    d = tiled.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "decile",
        "n_users",
        F.round(F.col("cents") * 1.0 / F.sum("cents").over(tot), 6).alias(
            "revenue_share"
        ),
        F.round(
            F.sum("cents").over(cum) * 1.0 / F.sum("cents").over(tot), 6
        ).alias("cum_share"),
    )


@query(
    "pipeline_loo_source_value",
    oracle="""
    WITH scored AS (
        SELECT source,
               CAST(ROUND(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1000000.0
                          / LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS q
        FROM documents
    ),
    per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sq
        FROM scored GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(sq) AS BIGINT) AS tq
        FROM per
    )
    SELECT per.source, per.n,
           ROUND(per.sq / 1000000.0 / per.n, 6) AS source_mean_q,
           ROUND(tot.tq / 1000000.0 / tot.tn, 6) AS corpus_mean_q,
           ROUND((tot.tq - per.sq) / 1000000.0 / (tot.tn - per.n), 6)
               AS mean_q_without,
           ROUND(tot.tq / 1000000.0 / tot.tn
                 - (tot.tq - per.sq) / 1000000.0 / (tot.tn - per.n), 6)
               AS marginal_value
    FROM per, tot
    """,
)
def pipeline_loo_source_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation (the cheap first rung of the
    Data Shapley ladder, Ghorbani & Zou 2019, public): each source's
    marginal contribution to corpus mean quality, computed from sum
    decompositions — removing a source needs NO recompute, just the
    global sums minus that source's sums, which is why this audit is
    free even at 100 TB. Positive marginal value = the source lifts the
    corpus; negative = the mixture improves without it.

    Determinism: quality is pinned to integer micro-units per doc
    (round(TTR * 1e6) as BIGINT), so every mean is an exact-integer
    ratio.

    Scale shape: one scan builds per-source integer sums (map-side
    combined); the LOO arithmetic runs on the 20-row aggregate plus one
    broadcast total row."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = F.round(
        F.size(F.array_distinct(toks)) * 1000000.0 / F.size(toks)
    ).cast("long")
    per = d.select("source", q.alias("q")).groupBy("source").agg(
        F.count("*").cast("long").alias("n"), F.sum("q").cast("long").alias("sq")
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("tn"), F.sum("sq").cast("long").alias("tq")
    )
    j = per.crossJoin(F.broadcast(tot))
    corpus_mean = F.col("tq") / 1000000.0 / F.col("tn")
    without = (F.col("tq") - F.col("sq")) / 1000000.0 / (F.col("tn") - F.col("n"))
    return j.select(
        "source",
        "n",
        F.round(F.col("sq") / 1000000.0 / F.col("n"), 6).alias("source_mean_q"),
        F.round(corpus_mean, 6).alias("corpus_mean_q"),
        F.round(without, 6).alias("mean_q_without"),
        F.round(corpus_mean - without, 6).alias("marginal_value"),
    )
