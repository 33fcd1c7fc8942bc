"""Wave-46: calendar heatmap pivot, per-doc character entropy, balanced
deterministic downsampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_dow_hour_heatmap",
    oracle="""
    SELECT CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
           CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 0 AND 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS night,
           CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 6 AND 11
                         THEN 1 ELSE 0 END) AS BIGINT) AS morning,
           CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 12 AND 17
                         THEN 1 ELSE 0 END) AS BIGINT) AS afternoon,
           CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 18 AND 23
                         THEN 1 ELSE 0 END) AS BIGINT) AS evening,
           COUNT(*) AS total
    FROM events GROUP BY 1
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar heatmap: day-of-week × daypart activity matrix via PIVOT
    (long → wide with an explicit value list, so the plan stays one
    aggregation pass — Spark's pivot with enumerated values never does a
    second distinct scan). The traffic-pattern view every ops dashboard
    opens with.

    Scale shape: one map-side-combined grouped aggregation; the pivot
    columns are CASE partials inside the same pass."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        (F.dayofweek("ts") - 1).alias("dow"),  # Sun=0 to match DuckDB dow
        F.when(F.hour("ts") <= 5, "night")
        .when(F.hour("ts") <= 11, "morning")
        .when(F.hour("ts") <= 17, "afternoon")
        .otherwise("evening")
        .alias("daypart"),
    )
    wide = (
        base.groupBy("dow")
        .pivot("daypart", ["night", "morning", "afternoon", "evening"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "dow",
        F.coalesce("night", F.lit(0)).cast("long").alias("night"),
        F.coalesce("morning", F.lit(0)).cast("long").alias("morning"),
        F.coalesce("afternoon", F.lit(0)).cast("long").alias("afternoon"),
        F.coalesce("evening", F.lit(0)).cast("long").alias("evening"),
        (
            F.coalesce("night", F.lit(0))
            + F.coalesce("morning", F.lit(0))
            + F.coalesce("afternoon", F.lit(0))
            + F.coalesce("evening", F.lit(0))
        ).cast("long").alias("total"),
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(REPLACE(text, ' ', ''), '')) AS c
        FROM documents WHERE doc_id < 500
    ),
    counts AS (
        SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS nt,
               CAST(COUNT(*) AS INT) AS alphabet
        FROM counts GROUP BY doc_id
    )
    SELECT c.doc_id, t.nt AS n_chars, t.alphabet,
           ROUND(-SUM((c.n * 1.0 / t.nt) * LN(c.n * 1.0 / t.nt) / LN(2)), 6)
               AS char_entropy_bits
    FROM counts c JOIN tot t ON t.doc_id = c.doc_id
    GROUP BY c.doc_id, t.nt, t.alphabet
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits) — the
    cheapest garble/boilerplate detector: natural text sits ~4.1 bits,
    base64 blobs ~6, repeated padding ~0. Complements the token-level
    signals in the quality ensemble.

    Determinism: per-char counts are exact integers; each entropy term is
    one fixed p·log₂p on an integer ratio, and the per-doc sum runs over
    ≤ alphabet-size terms of magnitude ≤ 1 — accumulation noise sits ~10
    orders below the 6dp rounding.

    Scale shape: explode to chars → two map-side-combined groupBys keyed
    by doc — no corpus-wide state at all."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    chars = d.select(
        "doc_id",
        F.explode(F.split(F.replace(F.col("text"), F.lit(" "), F.lit("")), "")).alias("c"),
    ).where(F.col("c") != "")
    counts = chars.groupBy("doc_id", "c").agg(F.count("*").alias("n"))
    tot = counts.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("nt"), F.count("*").cast("int").alias("alphabet")
    )
    p = F.col("n") * 1.0 / F.col("nt")
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id", "nt", "alphabet")
        .agg(F.round(-F.sum(p * F.log(p) / F.log(F.lit(2.0))), 6).alias("char_entropy_bits"))
        .select(
            "doc_id",
            F.col("nt").alias("n_chars"),
            "alphabet",
            "char_entropy_bits",
        )
    )


@query(
    "sample_balanced_downsample",
    oracle="""
    WITH sized AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    target AS (SELECT MIN(n) AS k FROM sized),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY MD5(CAST(doc_id AS VARCHAR) || '|bal'), doc_id
               ) AS rk
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM ranked, target
    WHERE rk <= k
    GROUP BY lang
    """,
)
def sample_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-size documents, chosen by the deterministic salted-MD5 rank
    (sample_hash_reservoir's primitive) — reproducible across engines and
    reruns, unlike rand()-based balancing. The id checksum pins EXACT
    membership. The de-biasing step before training a fair classifier.

    Scale shape: class sizes are one tiny aggregate (broadcast scalar k);
    ranking is one shuffle on the class key with the rk<=k group limit
    pushed into the sort."""
    d = table(spark, sf_dir, "documents")
    target = d.groupBy("lang").agg(F.count("*").alias("n")).agg(
        F.min("n").alias("k")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|bal"))), "doc_id"
    )
    ranked = d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
    return (
        ranked.crossJoin(F.broadcast(target))
        .where(F.col("rk") <= F.col("k"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )
