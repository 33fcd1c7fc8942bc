"""Wave-155: deterministic UUIDv3 key generation and conjugate Beta
posterior summaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "fn_uuid_v3",
    oracle="""
    WITH h AS (
        SELECT o_orderkey,
               MD5('ORDERNS-DATAENG!' || 'order-'
                   || CAST(o_orderkey AS VARCHAR)) AS hx
        FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT o_orderkey,
           SUBSTR(hx, 1, 8) || '-' || SUBSTR(hx, 9, 4) || '-'
           || '3' || SUBSTR(hx, 14, 3) || '-'
           || SUBSTR('89ab',
                     CAST(CAST(CONCAT('0x', SUBSTR(hx, 17, 1)) AS BIGINT) % 4
                          AS INT) + 1, 1)
           || SUBSTR(hx, 18, 3) || '-' || SUBSTR(hx, 21, 12) AS uuid_v3
    FROM h
    """,
)
def fn_uuid_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic name-based UUIDs, version 3 (RFC 4122 §4.3, public):
    MD5(namespace_UUID_bytes || name) with the version nibble forced to
    3 and the variant bits to 10 — the content-addressed surrogate key
    that lets two independent pipelines mint the SAME id for the same
    entity without coordination (the idempotency anchor for cross-system
    joins and retried writes).

    Stdlib interop (r5 ADVICE fix): the namespace is the UUID whose 16
    raw bytes are the ASCII string ``ORDERNS-DATAENG!``
    (4f524445-524e-532d-4441-5441454e4721), so the VARCHAR concatenation
    both engines hash IS the RFC's bytes(ns) || name, and every emitted
    id equals ``uuid.uuid3(uuid.UUID(bytes=b'ORDERNS-DATAENG!'),
    f'order-{key}')`` exactly (pytest-asserted).

    Determinism: pure md5 + hex string surgery, identical in both
    engines (the variant nibble is reduced mod 4 through an exact hex
    parse — no float anywhere).

    Scale shape: per-row projection, no shuffle."""
    h = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.md5(
                F.concat(
                    F.lit("ORDERNS-DATAENG!"),
                    F.lit("order-"),
                    F.col("o_orderkey").cast("string"),
                )
            ).alias("hx"),
        )
    )
    variant = F.substring(
        F.lit("89ab"),
        (
            F.conv(F.substring("hx", 17, 1), 16, 10).cast("int") % 4 + 1
        ),
        1,
    )
    return h.select(
        "o_orderkey",
        F.concat(
            F.substring("hx", 1, 8),
            F.lit("-"),
            F.substring("hx", 9, 4),
            F.lit("-"),
            F.lit("3"),
            F.substring("hx", 14, 3),
            F.lit("-"),
            variant,
            F.substring("hx", 18, 3),
            F.lit("-"),
            F.substring("hx", 21, 12),
        ).alias("uuid_v3"),
    )


@query(
    "model_beta_posterior_arms",
    oracle="""
    WITH arms AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN CAST(ROUND(value * 1000) AS BIGINT) > 500
                        THEN 1 ELSE 0 END) AS BIGINT) AS s
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, s,
           CAST(1 + s AS BIGINT) AS alpha_post,
           CAST(1 + n - s AS BIGINT) AS beta_post,
           ROUND((1 + s) * 1e0 / (2 + n), 6) AS post_mean,
           ROUND(SQRT((1 + s) * 1e0 * (1 + n - s)
                 / ((2e0 + n) * (2 + n) * (3 + n))), 6) AS post_sd,
           ROUND((1 + s) * 1e0 / (2 + n)
                 - 1.959964 * SQRT((1 + s) * 1e0 * (1 + n - s)
                   / ((2e0 + n) * (2 + n) * (3 + n))), 6) AS ci_lo,
           ROUND((1 + s) * 1e0 / (2 + n)
                 + 1.959964 * SQRT((1 + s) * 1e0 * (1 + n - s)
                   / ((2e0 + n) * (2 + n) * (3 + n))), 6) AS ci_hi
    FROM arms
    """,
)
def model_beta_posterior_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjugate Beta-Bernoulli posteriors per arm (Bayes 1763; the
    Beta(1,1) uniform-prior update, public): each event type's success
    rate (milli-value > 500) gets its exact posterior Beta(1+s, 1+n−s)
    with closed-form mean, standard deviation, and a normal-
    approximation 95% credible interval — the numbers a Thompson-
    sampling bandit's posterior actually carries, maintained with pure
    counting (the conjugacy is why the 100 TB update is one groupBy).

    Determinism: α/β are exact integers; mean/sd/CI are one double
    chain each.

    Scale shape: one map-side-combined groupBy; posteriors are a
    projection."""
    arms = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.round(F.col("value") * 1000).cast("long") > 500, 1).otherwise(0)
            )
            .cast("long")
            .alias("s"),
        )
    )
    a = 1 + F.col("s")
    b = 1 + F.col("n") - F.col("s")
    mean = a * F.lit(1.0) / (2 + F.col("n"))
    sd = F.sqrt(
        a * F.lit(1.0) * b / ((2.0 + F.col("n")) * (2 + F.col("n")) * (3 + F.col("n")))
    )
    return arms.select(
        "event_type",
        "n",
        "s",
        a.cast("long").alias("alpha_post"),
        b.cast("long").alias("beta_post"),
        F.round(mean, 6).alias("post_mean"),
        F.round(sd, 6).alias("post_sd"),
        F.round(mean - 1.959964 * sd, 6).alias("ci_lo"),
        F.round(mean + 1.959964 * sd, 6).alias("ci_hi"),
    )
