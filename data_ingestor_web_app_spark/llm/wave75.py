"""Wave-75: perceptual-hash image dedup pairs via hamming bands,
session bounce rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_PHASH_BITS_SQL = """
    docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    g AS (SELECT doc_id, w, h, UNNEST(RANGE(8)) AS y FROM docs),
    gx AS (SELECT doc_id, w, h, y, UNNEST(RANGE(8)) AS x FROM g),
    bits AS (
        SELECT doc_id, y * 8 + x AS pos,
               ((x * w // 9) * 7 + (y * h // 8) * 13 + doc_id) % 256
                 > (((x + 1) * w // 9) * 7 + (y * h // 8) * 13 + doc_id) % 256 AS bit
        FROM gx
    ),
    hashes AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN bit AND pos < 32
                             THEN CAST(1 AS BIGINT) << pos ELSE 0 END) AS BIGINT) AS lo,
               CAST(SUM(CASE WHEN bit AND pos >= 32
                             THEN CAST(1 AS BIGINT) << (pos - 32) ELSE 0 END) AS BIGINT) AS hi
        FROM bits GROUP BY doc_id
    )
"""


@query(
    "mm_phash_dedup_pairs",
    oracle=f"""
    WITH {_PHASH_BITS_SQL},
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
        FROM hashes a JOIN hashes b ON b.lo = a.lo AND b.doc_id > a.doc_id
        UNION
        SELECT a.doc_id, b.doc_id, a.lo, a.hi, b.lo, b.hi
        FROM hashes a JOIN hashes b ON b.hi = a.hi AND b.doc_id > a.doc_id
    )
    SELECT id_a, id_b,
           CAST(BIT_COUNT(XOR(lo_a, lo_b)) + BIT_COUNT(XOR(hi_a, hi_b)) AS INT)
               AS hamming,
           CAST(BIT_COUNT(XOR(lo_a, lo_b)) + BIT_COUNT(XOR(hi_a, hi_b)) = 0
                AS BOOLEAN) AS exact_dup
    FROM cand
    WHERE BIT_COUNT(XOR(lo_a, lo_b)) + BIT_COUNT(XOR(hi_a, hi_b)) <= 6
    """,
)
def mm_phash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs from the dHash fingerprints: the two
    32-bit hash halves double as hamming bands (any pair within
    distance 6 must agree exactly on at least one half — the pigeonhole
    guarantee dedup_simhash uses for text), so candidates come from two
    equi-joins instead of an all-pairs scan, then the exact hamming
    distance filters. On the fixture's gradient-structured images the
    8x8 sign pattern collides across generator parameters often enough
    to produce genuine distance-0 matches (byte-level hashing finds
    none — the images differ everywhere; only the PERCEPTUAL signature
    coincides), which is the property image dedup exploits.

    Determinism: hashes are exact integers (proven by mm_phash's
    analytic oracle); XOR/BIT_COUNT are integer-exact.

    Scale shape: two hash-equi self-joins on 32-bit band keys — the
    100 TB image-dedup plan; no cartesian anywhere (pigeonhole makes
    the bands lossless for radius <= 6 over two 32-bit halves... for
    radius up to 1 per half; wider radii add banded splits exactly as
    dedup_simhash does with 16-bit bands)."""
    from data_ingestor_web_app_spark.llm.multimodal import mm_phash

    h = mm_phash(spark, sf_dir).select(
        "doc_id", F.col("dhash_lo").alias("lo"), F.col("dhash_hi").alias("hi")
    )
    a = h.alias("a")
    b = h.alias("b")

    def cand(on):
        return a.join(
            b, on & (F.col("b.doc_id") > F.col("a.doc_id"))
        ).select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.lo").alias("lo_a"),
            F.col("a.hi").alias("hi_a"),
            F.col("b.lo").alias("lo_b"),
            F.col("b.hi").alias("hi_b"),
        )

    cands = cand(F.col("b.lo") == F.col("a.lo")).unionByName(
        cand(F.col("b.hi") == F.col("a.hi"))
    ).distinct()
    ham = F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    ) + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    return cands.where(ham <= 6).select(
        "id_a",
        "id_b",
        ham.cast("int").alias("hamming"),
        (ham == 0).alias("exact_dup"),
    )


@query(
    "events_bounce_rate",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN DATE_DIFF('microsecond',
                         LAG(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id), ts)
                         > 1800000000
                     OR LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS sess
        FROM seq
    ),
    sessions AS (
        SELECT user_id, sess,
               MIN(CAST(ts AS DATE)) AS d,
               COUNT(*) AS n_events
        FROM islands GROUP BY user_id, sess
    )
    SELECT STRFTIME(d, '%Y-%m-%d') AS d,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS bounce_rate
    FROM sessions GROUP BY d
    """,
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session bounce rate by day: 30-minute-gap sessions (the
    events_sessionize islands), a bounce being a single-event session —
    the engagement-quality headline metric layered on the same
    sessionization every analytics suite ships.

    Determinism: session boundaries are exact microsecond comparisons;
    counts and the rate are exact integers/ratios.

    Scale shape: one user-partitioned window pass builds islands (the
    same single shuffle sessionize uses), then two map-side-combined
    rollups."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 1800000000), 1).otherwise(0).alias(
            "new_session"
        ),
    )
    islands = seq.select(
        "user_id",
        "ts",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "sess"
        ),
    )
    sessions = islands.groupBy("user_id", "sess").agg(
        F.min(F.col("ts").cast("date")).alias("d"),
        F.count("*").alias("n_events"),
    )
    return sessions.groupBy(
        F.date_format("d", "yyyy-MM-dd").alias("d")
    ).agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)) * 1.0 / F.count("*"),
            6,
        ).alias("bounce_rate"),
    )
