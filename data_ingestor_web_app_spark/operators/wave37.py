"""Wave-37: ingest quarantine split, k-fold assignment, collection
function family, sliding percentile.

dq_quarantine_split is the validation stage of the reference's ingest
domain generalized: classify every record against a rule set, route
good/bad to separate sinks, account for every rejection reason.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "dq_quarantine_split",
    oracle="""
    WITH classified AS (
        SELECT event_id,
               CASE
                 WHEN value < 0 OR value > 500 THEN 'value_out_of_range'
                 WHEN props IS NULL OR json_valid(props) = false
                      THEN 'malformed_props'
                 WHEN user_id % 50 = 13 THEN 'blocked_user'
                 ELSE 'ok'
               END AS verdict
        FROM events
    )
    SELECT verdict, COUNT(*) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM classified GROUP BY verdict
    """,
)
def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine split — the ingest validation stage (the reference drops
    empty payloads and gates log levels; this is that idea as a first-
    class operator): every record classifies against an ordered rule set
    (range check, JSON validity, blocklist), GOOD rows land in the main
    sink, everything else lands in the quarantine sink PARTITIONED BY
    REASON, and the returned audit accounts for every record exactly
    once. The read-back audit is computed from the WRITTEN sinks, so the
    oracle match proves the split lost nothing.

    Scale shape: classification is one scan-projection; both writes
    stream from the same pass (no second scan of the source); the audit
    is a map-side-combined rollup over the sinks."""
    e = table(spark, sf_dir, "events")
    verdict = (
        F.when((F.col("value") < 0) | (F.col("value") > 500), "value_out_of_range")
        .when(
            F.col("props").isNull() | F.try_parse_json("props").isNull(),
            "malformed_props",
        )
        .when(F.col("user_id") % 50 == 13, "blocked_user")
        .otherwise("ok")
    )
    classified = e.select("event_id", verdict.alias("verdict"))
    root = scratch_dir("quarantine_")
    good_dir = os.path.join(root, "good")
    quarantine_dir = os.path.join(root, "quarantine")
    classified.where(F.col("verdict") == "ok").write.mode("overwrite").parquet(good_dir)
    classified.where(F.col("verdict") != "ok").write.mode("overwrite").partitionBy(
        "verdict"
    ).parquet(quarantine_dir)
    good = spark.read.parquet(good_dir).select("event_id", F.lit("ok").alias("verdict"))
    bad = spark.read.parquet(quarantine_dir).select(
        "event_id", F.col("verdict").cast("string").alias("verdict")
    )
    return good.unionByName(bad).groupBy("verdict").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "pipeline_kfold_assign",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, source,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|fold'),
                                        1, 8)) AS BIGINT) % 5 AS fold
        FROM documents
    )
    SELECT fold, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM assigned GROUP BY fold
    """,
)
def pipeline_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold split (k=5) for cross-validation over the
    corpus — fold membership is a pure function of doc_id (MD5 prefix mod
    k, the engine-portable salted hash from scan_table_checksum), so any
    worker or later incremental run recomputes the same assignment with
    no stored split table. The per-fold id checksum pins EXACT membership
    cross-engine, not just sizes.

    Scale shape: assignment is a projection; the audit is one
    map-side-combined rollup."""
    d = table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|fold"))), 1, 8),
        16,
        10,
    ).cast("long")
    assigned = d.select("doc_id", "source", (h % 5).alias("fold"))
    return assigned.groupBy("fold").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@query(
    "fn_collection_extra",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               STRING_SPLIT(text, ' ')[1:4] AS a,
               STRING_SPLIT(text, ' ')[3:6] AS b
        FROM documents WHERE doc_id < 500
    )
    SELECT doc_id,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(a || b)), ',') AS union_sorted,
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
               LIST_INTERSECT(a, b))), ','), '') AS intersect_sorted,
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
               LIST_FILTER(a, x -> NOT LIST_CONTAINS(b, x)))), ','), '')
               AS except_sorted,
           CAST(LEN(LIST_DISTINCT(a || b)) AS INT) AS n_union,
           ARRAY_TO_STRING(LIST_REVERSE_SORT(a), ',') AS a_desc
    FROM t
    """,
)
def fn_collection_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection function family: array_union / array_intersect /
    array_except / sort_array (asc + desc) — emitted as joined strings
    (set outputs sorted first) so the order-insensitive-set semantics
    hash identically across engines.

    Scale shape: per-row JVM array kernels, no shuffle."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    t = d.select(
        "doc_id",
        F.slice(F.split("text", " "), 1, 4).alias("a"),
        F.slice(F.split("text", " "), 3, 4).alias("b"),
    )
    return t.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_union("a", "b")), ",").alias("union_sorted"),
        F.array_join(F.array_sort(F.array_intersect("a", "b")), ",").alias("intersect_sorted"),
        F.array_join(F.array_sort(F.array_except("a", "b")), ",").alias("except_sorted"),
        F.size(F.array_union("a", "b")).alias("n_union"),
        F.array_join(F.sort_array("a", asc=False), ",").alias("a_desc"),
    )


@query(
    "agg_sliding_percentile",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
    )
    SELECT STRFTIME(daily.d, '%Y-%m-%d') AS day,
           COUNT(*) AS n_window,
           ROUND(QUANTILE_CONT(e.value, 0.5), 4) AS p50_7d,
           ROUND(QUANTILE_CONT(e.value, 0.95), 4) AS p95_7d
    FROM daily
    JOIN events e ON CAST(e.ts AS DATE) <= daily.d
                 AND CAST(e.ts AS DATE) > daily.d - 7
    GROUP BY daily.d
    """,
)
def agg_sliding_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day sliding percentiles (p50/p95 of the event measure
    per day) — the alerting baseline that adapts to drift. Implemented as
    the offset-explode equi-join (each event contributes to the 7 days it
    trails into) + exact percentile per day: no global window, no
    re-scan per day.

    Scale shape: the join fans each event out 7×, keyed on day — at
    extreme volume swap percentile for approx_percentile on the same
    plan, or pre-aggregate to (day, value-bucket) histograms and take
    quantiles from merged histograms (agg_equidepth_histogram's shape)."""
    e = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("ed"), "value"
    )
    fanned = e.select(
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "ed",
    ).select("value", F.date_add(F.col("ed"), F.col("off")).alias("day"))
    days = e.select(F.col("ed").alias("day")).distinct()
    return (
        fanned.join(days, "day")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_window"),
            F.round(F.expr("percentile(value, 0.5D)"), 4).alias("p50_7d"),
            F.round(F.expr("percentile(value, 0.95D)"), 4).alias("p95_7d"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_window",
            "p50_7d",
            "p95_7d",
        )
    )
