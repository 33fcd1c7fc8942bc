"""Wave-76: propensity-stratified covariate balance (SMD), versioned
time-travel read.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_covariate_balance",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 4)
                    AS INTEGER) % 2 AS arm,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id
    ),
    tiled AS (
        SELECT arm, cents,
               NTILE(5) OVER (ORDER BY n_events, user_id) AS stratum
        FROM per_user
    ),
    mom AS (
        SELECT stratum, arm, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS s2
        FROM tiled GROUP BY stratum, arm
    ),
    wide AS (
        SELECT stratum,
               MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 0 THEN s1 END) AS s10,
               MAX(CASE WHEN arm = 0 THEN s2 END) AS s20,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 1 THEN s1 END) AS s11,
               MAX(CASE WHEN arm = 1 THEN s2 END) AS s21
        FROM mom GROUP BY stratum
    )
    SELECT stratum,
           CAST(n0 + n1 AS BIGINT) AS n_users,
           ROUND((s11 * 1.0 / n1 - s10 * 1.0 / n0)
                 / SQRT(((s20 / n0 - (s10 * 1.0 / n0) * (s10 * 1.0 / n0))
                         + (s21 / n1 - (s11 * 1.0 / n1) * (s11 * 1.0 / n1))) / 2),
                 6) AS smd,
           CAST(ABS((s11 * 1.0 / n1 - s10 * 1.0 / n0)
                 / SQRT(((s20 / n0 - (s10 * 1.0 / n0) * (s10 * 1.0 / n0))
                         + (s21 / n1 - (s11 * 1.0 / n1) * (s11 * 1.0 / n1))) / 2))
                < 0.1 AS BOOLEAN) AS balanced
    FROM wide
    """,
)
def events_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance check by activity stratum (the diagnostics
    step of propensity-score stratification, Rosenbaum & Rubin 1983,
    public): users quintiled by event count, and within each stratum
    the STANDARDIZED MEAN DIFFERENCE of spend between the md5 arms —
    |SMD| < 0.1 is the conventional 'balanced' bar an observational
    analysis must clear before treating arm contrasts as causal.

    Determinism: per-user cents and counts are exact; stratum NTILE is
    totally ordered; SMD is one fixed double formula over exact
    128-bit-accumulated moments. A stratum whose users all landed in
    one arm reports NULL smd ('cannot assess') — identically in both
    engines.

    Scale shape: one user groupBy; the quintile window runs over user
    aggregates; per-stratum moments are map-side combined into a 10-row
    pivot."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("cents"),
    ).select(
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
            .cast("int")
            % 2
        ).alias("arm"),
        "cents",
        F.ntile(5).over(Window.orderBy("n_events", "user_id")).alias("stratum"),
    )
    mom = per_user.groupBy("stratum", "arm").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("double")
        .alias("s2"),
    )
    wide = mom.groupBy("stratum").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("s1"))).alias("s10"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("s20"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("s1"))).alias("s11"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("s21"),
    )
    m0 = F.col("s10") * 1.0 / F.col("n0")
    m1 = F.col("s11") * 1.0 / F.col("n1")
    v0 = F.col("s20") / F.col("n0") - m0 * m0
    v1 = F.col("s21") / F.col("n1") - m1 * m1
    smd = (m1 - m0) / F.sqrt((v0 + v1) / 2)
    return wide.select(
        "stratum",
        (F.col("n0") + F.col("n1")).cast("long").alias("n_users"),
        F.round(smd, 6).alias("smd"),
        (F.abs(smd) < 0.1).alias("balanced"),
    )


@query(
    "maintenance_time_travel_read",
    oracle="""
    WITH v1 AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS price
        FROM orders
    ),
    v2 AS (
        SELECT o_orderstatus, price FROM (
            SELECT o_orderkey,
                   o_orderstatus,
                   CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS price
            FROM orders
        ) WHERE o_orderkey % 7 <> 0
    )
    SELECT b.o_orderstatus,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o2
            WHERE o2.o_orderstatus = b.o_orderstatus) AS n_v0,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v1
            WHERE v1.o_orderstatus = b.o_orderstatus) AS n_v1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v2
            WHERE v2.o_orderstatus = b.o_orderstatus) AS n_v2,
           (SELECT CAST(SUM(CAST(ROUND(v1.price * 100) AS BIGINT)) AS BIGINT)
            FROM v1 WHERE v1.o_orderstatus = b.o_orderstatus) AS cents_v1
    FROM (SELECT DISTINCT o_orderstatus FROM orders) b
    """,
)
def maintenance_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read over versioned copy-on-write snapshots: three
    committed versions (v0 load, v1 price restatement of every 5th
    order, v2 purge of every 7th), each written to its own immutable
    directory with a version-pointer advance — then the audit reads ALL
    THREE as of their versions and reconciles per-status counts, the
    'what did the table say last Tuesday' capability every table format
    sells (and incident forensics actually needs). Reading v1 remains
    correct AFTER v2 commits because versions never rewrite in place —
    the stream_cdc_upsert durability discipline applied to reads.

    Determinism: version contents are pure functions of key arithmetic;
    money in exact cents.

    Scale shape: each version commit is one partitioned write; the
    as-of read is a plain scan of that version's directory (no undo log
    to replay); the reconciliation is three map-side-combined counts."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = scratch_dir("time_travel_")
    versions = {}
    v0 = o
    versions[0] = os.path.join(root, "v0")
    v0.write.mode("overwrite").parquet(versions[0])
    v1 = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    versions[1] = os.path.join(root, "v1")
    v1.write.mode("overwrite").parquet(versions[1])
    v2 = v1.where(F.col("o_orderkey") % 7 != 0)
    versions[2] = os.path.join(root, "v2")
    v2.write.mode("overwrite").parquet(versions[2])
    # as-of reads from the immutable version directories
    r0 = spark.read.parquet(versions[0]).groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_v0")
    )
    r1 = spark.read.parquet(versions[1]).groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_v1"),
        F.sum(F.round(F.col("price") * 100).cast("long")).cast("long").alias("cents_v1"),
    )
    r2 = spark.read.parquet(versions[2]).groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_v2")
    )
    return (
        r0.join(r1, "o_orderstatus")
        .join(r2, "o_orderstatus")
        .select("o_orderstatus", "n_v0", "n_v1", "n_v2", "cents_v1")
    )
