"""Wave-317: inverted-index postings compression planning (Elias gamma/
delta, Rice) and md5 hash-shard balance against balls-in-bins theory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_SHARDS = 64


@query(
    "pipeline_postings_compression",
    oracle="""
    WITH post AS (
        SELECT DISTINCT w, doc_id FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents)
    ),
    gaps AS (
        SELECT w,
               doc_id - COALESCE(LAG(doc_id) OVER (
                   PARTITION BY w ORDER BY doc_id), -1) AS g
        FROM post
    ),
    bits AS (
        SELECT g,
               CAST(FLOOR(LN(CAST(g AS DOUBLE)) / LN(2.0)) AS BIGINT) AS lg
        FROM gaps
    ),
    enc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(SUM(g) AS BIGINT) AS gap_sum,
               CAST(SUM(2 * lg + 1) AS BIGINT) AS gamma_bits,
               CAST(SUM(lg + 2 * CAST(FLOOR(LN(CAST(lg + 1 AS DOUBLE))
                                            / LN(2.0)) AS BIGINT) + 1)
                    AS BIGINT) AS delta_bits
        FROM bits
    ),
    k AS (
        SELECT GREATEST(CAST(ROUND(LN(0.69 * CAST(gap_sum AS DOUBLE)
                                      / n_gaps) / LN(2.0)) AS BIGINT), 0)
                   AS rice_k
        FROM enc
    ),
    rice AS (
        SELECT CAST(SUM((g - 1) // CAST(ROUND(POWER(2, k.rice_k)) AS BIGINT)
                        + 1 + k.rice_k) AS BIGINT) AS rice_bits
        FROM gaps CROSS JOIN k
    )
    SELECT e.n_gaps,
           ROUND(CAST(e.gap_sum AS DOUBLE) / e.n_gaps, 4) AS mean_gap,
           (SELECT rice_k FROM k) AS rice_k,
           e.gamma_bits, e.delta_bits, r.rice_bits,
           ROUND(CAST(e.gamma_bits AS DOUBLE) / e.n_gaps, 4)
               AS gamma_bits_per_gap,
           ROUND(CAST(e.delta_bits AS DOUBLE) / e.n_gaps, 4)
               AS delta_bits_per_gap,
           ROUND(CAST(r.rice_bits AS DOUBLE) / e.n_gaps, 4)
               AS rice_bits_per_gap
    FROM enc e CROSS JOIN rice r
    """,
)
def pipeline_postings_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index postings compression planning (Elias, IEEE IT
    1975; Golomb 1966 / Rice's 2^k restriction; the d-gap treatment of
    Witten, Moffat & Bell, 'Managing Gigabytes' — all public): encode
    each token's sorted doc-id gap stream under Elias gamma
    (2⌊lg g⌋+1 bits), Elias delta (⌊lg g⌋ + 2⌊lg(⌊lg g⌋+1)⌋ + 1) and
    Rice with the mean-derived parameter k ≈ lg(0.69·mean) — the bits
    an index build actually spends per posting, per scheme, computed
    BEFORE writing anything. The first doc-id in each posting list is
    charged as a gap from -1 (i.e. docid+1), the standard convention.

    Determinism: gaps are exact integers; bit lengths are exact
    integer closed forms (⌊lg⌋ via LN ratios on exact integers — safe
    because g and lg+1 are never powers straddling a representation
    boundary at this magnitude... and pytest replays every formula
    with int.bit_length); Rice divisions are integer ops.

    Scale shape: the text explode + DISTINCT is the standard token
    shuffle; gap windows are PARTITIONED by token; encoders are one
    aggregate."""
    post = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    wt = Window.partitionBy("w").orderBy("doc_id")
    gaps = post.select(
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(wt), F.lit(-1))
        ).alias("g")
    )
    lg = F.floor(F.log(F.col("g").cast("double")) / F.log(F.lit(2.0))).cast(
        "long"
    )
    bits = gaps.select("g", lg.alias("lg"))
    enc = bits.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("gap_sum"),
        F.sum(2 * F.col("lg") + 1).cast("long").alias("gamma_bits"),
        F.sum(
            F.col("lg")
            + 2
            * F.floor(
                F.log((F.col("lg") + 1).cast("double")) / F.log(F.lit(2.0))
            ).cast("long")
            + 1
        )
        .cast("long")
        .alias("delta_bits"),
    )
    k = enc.select(
        F.greatest(
            F.round(
                F.log(
                    0.69 * F.col("gap_sum").cast("double") / F.col("n_gaps")
                )
                / F.log(F.lit(2.0))
            ).cast("long"),
            F.lit(0),
        ).alias("rice_k")
    )
    rice = (
        gaps.crossJoin(F.broadcast(k))
        .agg(
            F.sum(
                F.expr("(g - 1) div cast(round(power(2, rice_k)) as bigint)")
                + 1
                + F.col("rice_k")
            )
            .cast("long")
            .alias("rice_bits")
        )
    )
    return (
        enc.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(rice))
        .select(
            "n_gaps",
            F.round(
                F.col("gap_sum").cast("double") / F.col("n_gaps"), 4
            ).alias("mean_gap"),
            "rice_k",
            "gamma_bits",
            "delta_bits",
            "rice_bits",
            F.round(
                F.col("gamma_bits").cast("double") / F.col("n_gaps"), 4
            ).alias("gamma_bits_per_gap"),
            F.round(
                F.col("delta_bits").cast("double") / F.col("n_gaps"), 4
            ).alias("delta_bits_per_gap"),
            F.round(
                F.col("rice_bits").cast("double") / F.col("n_gaps"), 4
            ).alias("rice_bits_per_gap"),
        )
    )


@query(
    "pipeline_shard_balance",
    oracle=f"""
    WITH sharded AS (
        SELECT CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_SHARDS} AS shard,
               n_chars
        FROM documents
    ),
    per AS (
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM sharded GROUP BY shard
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS used,
               CAST(SUM(docs) AS BIGINT) AS m,
               CAST(MAX(docs) AS BIGINT) AS max_docs,
               AVG(CAST(docs AS DOUBLE)) AS mean_docs,
               CAST(MAX(chars) AS BIGINT) AS max_chars,
               AVG(CAST(chars AS DOUBLE)) AS mean_chars
        FROM per
    )
    SELECT used AS shards_used, m AS n_docs,
           max_docs,
           ROUND(max_docs / mean_docs, 6) AS doc_imbalance,
           ROUND(max_chars / mean_chars, 6) AS char_imbalance,
           ROUND(CAST(m AS DOUBLE) / {_SHARDS}
                 + SQRT(2.0 * m * LN({_SHARDS}.0) / {_SHARDS}), 4)
               AS raab_steger_bound,
           max_docs <= CAST(m AS DOUBLE) / {_SHARDS}
                       + SQRT(2.0 * m * LN({_SHARDS}.0) / {_SHARDS})
               AS within_theory
    FROM s
    """,
)
def pipeline_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shard balance audit against balls-in-bins theory (Raab &
    Steger, RANDOM 1998 — for m >> n ln n the max load is m/n +
    sqrt(2·(m/n)·ln n) w.h.p. — public): shard documents across 64
    shards by an md5-derived key (the SQL-replayable hash family of the
    wave-159 precedent, NOT a Spark-internal hash) and report doc- and
    byte-weighted imbalance plus the theoretical max-load bound and
    whether the realized max respects it. This is THE pre-flight check
    before a 1000-executor write: a hash that fails balls-in-bins here
    fails everywhere, and byte imbalance with doc balance flags
    heavy-document skew that repartitionByRange would fix.

    Determinism: the md5 prefix is an exact hex-to-int chain identical
    in both engines; counts exact; one fixed bound chain; the flag
    compares unrounded.

    Scale shape: one groupBy(shard) over the scan (64 groups,
    map-side combinable); the audit reads a 64-row frame."""
    sharded = table(spark, sf_dir, "documents").select(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % _SHARDS
        ).alias("shard"),
        "n_chars",
    )
    per = sharded.groupBy("shard").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    s = per.agg(
        F.count("*").cast("long").alias("used"),
        F.sum("docs").cast("long").alias("m"),
        F.max("docs").cast("long").alias("max_docs"),
        F.avg(F.col("docs").cast("double")).alias("mean_docs"),
        F.max("chars").cast("long").alias("max_chars"),
        F.avg(F.col("chars").cast("double")).alias("mean_chars"),
    )
    import math

    bound = F.col("m").cast("double") / _SHARDS + F.sqrt(
        2.0 * F.col("m") * math.log(_SHARDS) / _SHARDS
    )
    return s.select(
        F.col("used").alias("shards_used"),
        F.col("m").alias("n_docs"),
        "max_docs",
        F.round(F.col("max_docs") / F.col("mean_docs"), 6).alias(
            "doc_imbalance"
        ),
        F.round(F.col("max_chars") / F.col("mean_chars"), 6).alias(
            "char_imbalance"
        ),
        F.round(bound, 4).alias("raab_steger_bound"),
        (F.col("max_docs") <= bound).alias("within_theory"),
    )
