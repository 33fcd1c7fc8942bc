"""Wave-52: alert debouncing (scalable gaps-and-islands), printf
formatting parity, dynamic partition overwrite.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.operators.wave30 import _distributed_prefix_sum
from data_ingestor_web_app_spark.registry import query


@query(
    "events_alert_debounce",
    oracle="""
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS h,
               CAST(SUM((value > 100)::INT) AS BIGINT) AS n_bad,
               COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    breaches AS (
        SELECT CAST(EPOCH_US(h) / 3600000000 AS BIGINT) AS hidx, h
        FROM hourly WHERE n_bad * 1.0 / n > 0.1
    ),
    grouped AS (
        SELECT h, hidx,
               hidx - ROW_NUMBER() OVER (ORDER BY hidx) AS grp
        FROM breaches
    )
    SELECT STRFTIME(MIN(h), '%Y-%m-%d %H:%M:%S') AS alert_start,
           COUNT(*) AS n_hours,
           CAST(COUNT(*) >= 3 AS BOOLEAN) AS page
    FROM grouped GROUP BY grp
    """,
)
def events_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert debouncing (hysteresis): error-rate breaches only PAGE after
    3 consecutive breach hours — single-hour blips stay visible but
    silent. Consecutive runs come from the classic hidx − row_number
    islands trick, with the global row number computed by the
    deterministic bucketed prefix-sum (wave30) instead of an
    unpartitioned window — gaps-and-islands at any scale.

    Scale shape: the corpus collapses to breach HOURS; the stitch is the
    only ordered structure and its all-to-one piece is bucket-count
    rows."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum((F.col("value") > 100).cast("int")).cast("long").alias("n_bad"),
        F.count("*").alias("n"),
    )
    breaches = hourly.where(F.col("n_bad") * 1.0 / F.col("n") > 0.1).select(
        "h",
        (F.unix_micros("h") / 3600000000).cast("long").alias("hidx"),
        F.lit(1).alias("one"),
    )
    # global row number over hidx via deterministic prefix sum of 1s
    rn = _distributed_prefix_sum(breaches, "hidx", ["one"])
    grouped = rn.select("h", (F.col("hidx") - F.col("one_cum")).alias("grp"))
    return grouped.groupBy("grp").agg(
        F.date_format(F.min("h"), "yyyy-MM-dd HH:mm:ss").alias("alert_start"),
        F.count("*").alias("n_hours"),
        (F.count("*") >= 3).alias("page"),
    ).drop("grp")


@query(
    "fn_format_string",
    oracle="""
    SELECT o_orderkey,
           printf('ORD-%08d', o_orderkey) AS order_code,
           printf('%s/%s', o_orderstatus, o_orderpriority) AS status_path,
           printf('%.2f USD', o_totalprice) AS price_label,
           printf('%5.1f%%', o_orderkey % 100 * 1.0) AS pct_label
    FROM orders WHERE o_orderkey < 3000
    """,
)
def fn_format_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style formatting parity: zero-padded codes, path joins,
    fixed-decimal money labels, width-padded percentages — the
    report-rendering idioms, proven byte-identical between Spark's
    format_string (java.util.Formatter) and DuckDB's printf.

    Scale shape: per-row JVM projection."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 3000)
    return o.select(
        "o_orderkey",
        F.format_string("ORD-%08d", "o_orderkey").alias("order_code"),
        F.format_string("%s/%s", "o_orderstatus", "o_orderpriority").alias("status_path"),
        F.format_string("%.2f USD", "o_totalprice").alias("price_label"),
        F.format_string("%5.1f%%", (F.col("o_orderkey") % 100) * 1.0).alias("pct_label"),
    )


@query(
    "maintenance_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(
               CASE WHEN o_orderstatus = 'P'
                    THEN o_totalprice + 1000.0 ELSE o_totalprice END * 100)
               AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def maintenance_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the restatement primitive: rewrite
    ONLY the partitions present in the incoming batch (status 'P' gets a
    price correction), leaving every other partition's files untouched.
    Static overwrite mode would wipe the whole table — the
    partitionOverwriteMode=dynamic setting is the difference between a
    surgical restatement and a catastrophe, proven here by the read-back:
    'P' rows carry the correction, 'O'/'F' rows are bit-identical
    originals.

    Scale shape: the rewrite touches one partition's bytes; the audit is
    map-side combined."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(scratch_dir("dyn_overwrite_"), "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    corrected = o.where(F.col("o_orderstatus") == "P").select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        "o_orderstatus",
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy(F.col("o_orderstatus").cast("string").alias("o_orderstatus")).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
