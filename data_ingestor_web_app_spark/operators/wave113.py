"""Wave-113: RANSAC line fitting with derandomized candidate pairs,
empty-side join semantics, and audio clipping QC.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 16  # RANSAC candidate pairs
_TOL = 3  # inlier tolerance (scaled deviations)


@query(
    "model_ransac_line",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
        GROUP BY day
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    pts AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS t, x,
               CAST(CONCAT('0x', SUBSTR(MD5(STRFTIME(day, '%Y-%m-%d') || '|rs'),
                                        1, 8)) AS BIGINT) AS h
        FROM daily
    ),
    picks AS (
        SELECT t, x, ROW_NUMBER() OVER (ORDER BY h, t) AS pick
        FROM pts
    ),
    cand AS (
        SELECT a.pick AS cid,
               a.t AS t1, a.x AS x1, b.t AS t2, b.x AS x2
        FROM picks a JOIN picks b ON b.pick = a.pick + {_K}
        WHERE a.pick <= {_K} AND a.t <> b.t
    ),
    scored AS (
        SELECT c.cid, c.t1, c.x1, c.t2, c.x2,
               CAST(SUM(CASE WHEN ABS((c.x2 - c.x1) * (p.t - c.t1)
                                      - (p.x - c.x1) * (c.t2 - c.t1))
                              <= {_TOL} * ABS(c.t2 - c.t1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS inliers
        FROM cand c, pts p
        GROUP BY c.cid, c.t1, c.x1, c.t2, c.x2
    ),
    best AS (
        SELECT * FROM scored ORDER BY inliers DESC, cid LIMIT 1
    )
    SELECT b.inliers, t.n AS n_points,
           ROUND(b.inliers * 1.0 / t.n, 6) AS inlier_frac,
           ROUND(CAST(b.x2 - b.x1 AS DOUBLE) / (b.t2 - b.t1), 6) AS slope,
           ROUND(b.x1 - CAST(b.x2 - b.x1 AS DOUBLE) / (b.t2 - b.t1) * b.t1, 4)
               AS intercept
    FROM best b, tot t
    """,
)
def model_ransac_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC line fitting (Fischler & Bolles 1981, public) on the
    daily purchase series: {_K} derandomized candidate pairs (rows
    ranked by a salted hash stand in for random sampling — the
    engine's standard derandomization), each pair defines a line, and
    the consensus winner is the line with the most inliers within a
    fixed tolerance — the robust alternative to least squares
    (agg_linreg) that a single outlier day cannot hijack.

    Determinism: the inlier test is cross-multiplied EXACT INTEGER
    arithmetic (|dy·(t-t1) - (x-x1)·dt| <= tol·|dt| — no division, no
    float in the hot test); candidate choice is hash-ranked with total
    tie-breaks; slope/intercept are display-only doubles rounded.

    Scale shape: candidates broadcast against the point set (K x N
    conditional aggregate, one pass); the same plan scales to any
    series length with K fixed."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    tot = daily.agg(F.count("*").cast("long").alias("n"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.date_format("day", "yyyy-MM-dd"), F.lit("|rs"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    pts = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"), "x", h.alias("h")
    )
    picks = pts.select(
        "t", "x", F.row_number().over(Window.orderBy("h", "t")).alias("pick")
    )
    a = picks.where(F.col("pick") <= _K).select(
        F.col("pick").alias("cid"), F.col("t").alias("t1"), F.col("x").alias("x1")
    )
    b = picks.select(
        (F.col("pick") - _K).alias("cid"), F.col("t").alias("t2"), F.col("x").alias("x2")
    )
    cand = a.join(b, "cid").where(F.col("t1") != F.col("t2"))
    p = pts.select(F.col("t").alias("pt"), F.col("x").alias("px"))
    scored = (
        p.crossJoin(F.broadcast(cand))
        .groupBy("cid", "t1", "x1", "t2", "x2")
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        (F.col("x2") - F.col("x1")) * (F.col("pt") - F.col("t1"))
                        - (F.col("px") - F.col("x1")) * (F.col("t2") - F.col("t1"))
                    )
                    <= _TOL * F.abs(F.col("t2") - F.col("t1")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("inliers")
        )
    )
    best = scored.orderBy(F.desc("inliers"), F.asc("cid")).limit(1)
    slope = (F.col("x2") - F.col("x1")).cast("double") / (F.col("t2") - F.col("t1"))
    return best.crossJoin(F.broadcast(tot)).select(
        "inliers",
        F.col("n").alias("n_points"),
        F.round(F.col("inliers") / F.col("n"), 6).alias("inlier_frac"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("x1") - slope * F.col("t1"), 4).alias("intercept"),
    )


@query(
    "join_empty_side_semantics",
    oracle="""
    WITH empty AS (
        SELECT n_nationkey AS k, n_name AS v FROM nation WHERE 1 = 0
    ),
    probe AS (SELECT n_nationkey AS k, n_name FROM nation)
    SELECT 'anti_vs_empty' AS variant,
           CAST((SELECT COUNT(*) FROM probe p
                 WHERE NOT EXISTS (SELECT 1 FROM empty e WHERE e.k = p.k))
                AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'cross_vs_empty',
           CAST((SELECT COUNT(*) FROM probe, empty) AS BIGINT)
    UNION ALL
    SELECT 'full_outer_vs_empty',
           CAST((SELECT COUNT(*) FROM probe p FULL OUTER JOIN empty e
                 ON e.k = p.k) AS BIGINT)
    UNION ALL
    SELECT 'inner_vs_empty',
           CAST((SELECT COUNT(*) FROM probe p JOIN empty e ON e.k = p.k)
                AS BIGINT)
    UNION ALL
    SELECT 'left_outer_vs_empty',
           CAST((SELECT COUNT(*) FROM probe p LEFT JOIN empty e ON e.k = p.k)
                AS BIGINT)
    UNION ALL
    SELECT 'semi_vs_empty',
           CAST((SELECT COUNT(*) FROM probe p
                 WHERE EXISTS (SELECT 1 FROM empty e WHERE e.k = p.k))
                AS BIGINT)
    ORDER BY variant
    """,
)
def join_empty_side_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-relation join semantics, pinned: every join flavor against
    a provably empty build side — inner/semi/cross collapse to zero,
    anti and left-outer preserve the probe side, full-outer equals the
    probe — the degenerate cases an optimizer exploits (empty-relation
    propagation) and a migration must never change. The companion edge
    pin to join_not_in_null_semantics.

    Determinism: pure row counting.

    Scale shape: Catalyst's PropagateEmptyRelation folds most of these
    to LocalRelation at plan time — which is the point being pinned:
    the 100 TB probe side is never scanned for inner/semi/cross against
    an empty build."""
    nation = table(spark, sf_dir, "nation")
    probe = nation.select(F.col("n_nationkey").alias("k"), "n_name")
    empty = probe.where(F.lit(1) == 2)
    e2 = empty.select(F.col("k").alias("ek"))
    variants = [
        ("anti_vs_empty", probe.join(e2, probe.k == e2.ek, "left_anti")),
        ("cross_vs_empty", probe.crossJoin(e2)),
        ("full_outer_vs_empty", probe.join(e2, probe.k == e2.ek, "full_outer")),
        ("inner_vs_empty", probe.join(e2, probe.k == e2.ek)),
        ("left_outer_vs_empty", probe.join(e2, probe.k == e2.ek, "left_outer")),
        ("semi_vs_empty", probe.join(e2, probe.k == e2.ek, "left_semi")),
    ]
    # one lazy 1-row frame per variant, unioned — the whole pin is a single
    # deferred plan (6 build-time counts folded away); the PropagateEmpty
    # Relation fold being pinned happens at the same plan time either way
    frames = [
        df.agg(F.count("*").cast("long").alias("n_rows")).select(
            F.lit(name).alias("variant"), "n_rows"
        )
        for name, df in variants
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("variant")


@query(
    "mm_audio_clipping",
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
    flagged AS (
        SELECT doc_id, n_frames, i,
               CASE WHEN ABS(s) >= 1020 THEN 1 ELSE 0 END AS clipped,
               CASE WHEN ABS(s) >= 1020
                     AND COALESCE(ABS(LAG(s) OVER (PARTITION BY doc_id
                                                   ORDER BY i)), 0) < 1020
                    THEN 1 ELSE 0 END AS run_start
        FROM samples
    )
    SELECT doc_id,
           CAST(SUM(clipped) AS BIGINT) AS n_clipped,
           SUM(clipped) * 1.0 / MAX(n_frames) AS clipped_frac,
           CAST(SUM(run_start) AS BIGINT) AS n_clip_regions
    FROM flagged
    GROUP BY doc_id
    """,
)
def mm_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio clipping QC per REAL decoded WAV: samples at or beyond
    |1020| of the PCM16-scaled 1024 full scale count as clipped, with
    the contiguous clip-region count (runs found by the LAG transition
    trick) — the loudness-war gate an audio ingest runs before
    spending feature-extraction compute, alongside
    mm_audio_energy_gate and mm_audio_zcr.

    Determinism: clipping tests, run starts and counts are exact
    integer comparisons; one display division rounds 6dp.

    Scale shape: mapInPandas (numpy threshold + edge detection), one
    row per clip, zero shuffle; the relational LAG formulation exists
    only in the oracle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import wav_decode_pcm16
    from data_ingestor_web_app_spark.llm.multimodal import _audio_payloads

    payloads = _audio_payloads(spark, sf_dir)

    def clip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, _n, samples = wav_decode_pcm16(bytes(payload))
                s = np.abs(np.asarray(samples, dtype=np.int64))
                clipped = s >= 1020
                n_clip = int(clipped.sum())
                starts = int(
                    (clipped & ~np.concatenate(([False], clipped[:-1]))).sum()
                )
                # unrounded: k/1280 hits exact 6dp ties (6/1280 = .0046875)
                # where Python round() and SQL ROUND disagree
                rows.append((doc_id, n_clip, n_clip / len(s), starts))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_clipped", "clipped_frac", "n_clip_regions"]
            )

    return payloads.mapInPandas(
        clip_batches,
        schema="doc_id long, n_clipped long, clipped_frac double, n_clip_regions long",
    )
