"""Wave-34: interval-overlap join, Holt trend smoothing, time-decayed
engagement, dataset shard export, datetime function family.

events_holt_smoothing introduces a new determinism pattern: an ORDERED
FOLD recurrence (Spark sort_array + aggregate vs a DuckDB recursive CTE)
with α = β = 0.5 so every intermediate is a dyadic rational — exact in
binary floating point, no rounding tricks needed.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "join_interval_overlap",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS a_key,
               CAST(o_orderdate AS DATE) AS a_start,
               CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 + 1 AS INT) AS a_end
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    b AS (
        SELECT o_orderkey AS b_key,
               CAST(o_orderdate AS DATE) AS b_start,
               CAST(o_orderdate AS DATE) + CAST(o_orderkey % 11 + 1 AS INT) AS b_end
        FROM orders WHERE o_orderkey % 89 = 0
    )
    SELECT a_key, b_key,
           CAST(DATEDIFF('day',
                GREATEST(a_start, b_start), LEAST(a_end, b_end)) AS BIGINT)
               AS overlap_days
    FROM a JOIN b
      ON a.a_start <= b.b_end AND b.b_start <= a.a_end
    WHERE a_key <> b_key
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join between two interval sets (order activity
    windows vs promo windows), computed the scale-safe way: each interval
    EXPLODES to the 16-day grid buckets it touches, candidates come from
    the bucket equi-join (co-partitioned shuffle, never a nested-loop
    range join), duplicates from multi-bucket spans collapse with one
    DISTINCT, and the exact overlap predicate verifies each candidate.
    Same grid-blocking idiom as join_spatial_grid, applied to time.

    Scale shape: shuffle volume is Σ span/16 bucket rows; a plain
    range-condition join would be BroadcastNestedLoopJoin — quadratic."""
    o = table(spark, sf_dir, "orders")

    def intervals(mod: int, span_mod: int, prefix: str) -> DataFrame:
        d = F.col("o_orderdate").cast("date")
        return o.where(F.col("o_orderkey") % mod == 0).select(
            F.col("o_orderkey").alias(f"{prefix}_key"),
            d.alias(f"{prefix}_start"),
            F.date_add(d, (F.col("o_orderkey") % span_mod + 1).cast("int")).alias(f"{prefix}_end"),
        )

    a = intervals(97, 5, "a")
    b = intervals(89, 11, "b")
    bucket = lambda c: F.floor(F.unix_date(F.col(c)) / 16)  # noqa: E731
    ax = a.select(
        "*", F.explode(F.sequence(bucket("a_start"), bucket("a_end"))).alias("bkt")
    )
    bx = b.select(
        "*", F.explode(F.sequence(bucket("b_start"), bucket("b_end"))).alias("bkt")
    )
    cand = (
        ax.join(bx, "bkt")
        .where(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
            & (F.col("a_key") != F.col("b_key"))
        )
        .select("a_key", "b_key", "a_start", "a_end", "b_start", "b_end")
        .distinct()
    )
    return cand.select(
        "a_key",
        "b_key",
        F.datediff(
            F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
        ).cast("long").alias("overlap_days"),
    )


@query(
    "events_holt_smoothing",
    oracle="""
    WITH RECURSIVE series AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT d, CAST(x AS DOUBLE) AS x,
               ROW_NUMBER() OVER (ORDER BY d) AS rn
        FROM series
    ),
    holt(rn, s, b) AS (
        SELECT 1,
               (SELECT x FROM idx WHERE rn = 1),
               (SELECT x FROM idx WHERE rn = 2) - (SELECT x FROM idx WHERE rn = 1)
        UNION ALL
        SELECT h.rn + 1,
               0.5 * i.x + 0.5 * (h.s + h.b),
               0.5 * ((0.5 * i.x + 0.5 * (h.s + h.b)) - h.s) + 0.5 * h.b
        FROM holt h JOIN idx i ON i.rn = h.rn + 1
    )
    SELECT (SELECT CAST(MAX(rn) AS BIGINT) FROM idx) AS n_days,
           (SELECT STRFTIME(MAX(d), '%Y-%m-%d') FROM idx) AS last_day,
           h.s AS level, h.b AS trend,
           h.s + h.b AS forecast_next
    FROM holt h
    WHERE h.rn = (SELECT MAX(rn) FROM idx)
    """,
)
def events_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) over the daily
    event-count series, with a one-step-ahead forecast. α = β = 0.5 makes
    every intermediate a DYADIC rational — exact in IEEE doubles, so the
    Spark ordered-array fold and the DuckDB recursive CTE agree
    bit-for-bit with NO rounding anywhere (a determinism pattern the
    repo's other iterative ops achieve by 6dp re-rounding instead).

    Scale shape: the corpus collapses to |days| rows in one
    map-side-combined groupBy; the recurrence folds over a sorted
    |days|-element array in a single projection — state is two doubles,
    and the fold is inherently sequential (that's the algorithm), so
    making its input tiny-first is the only correct distribution."""
    e = table(spark, sf_dir, "events")
    series = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("double").alias("x")
    )
    packed = series.agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("arr"),
        F.count("*").alias("n_days"),
        F.max("d").alias("last_day"),
    )
    # init: s1 = x1, b1 = x2 - x1; fold t = 2..T:
    #   s' = x/2 + (s+b)/2 ; b' = (s'-s)/2 + b/2
    folded = packed.select(
        "n_days",
        "last_day",
        F.expr(
            """
            aggregate(
              slice(arr, 2, size(arr) - 1),
              named_struct('s', cast(element_at(arr, 1).x as double),
                           'b', element_at(arr, 2).x - element_at(arr, 1).x),
              (st, el) -> named_struct(
                  's', 0.5D * el.x + 0.5D * (st.s + st.b),
                  'b', 0.5D * ((0.5D * el.x + 0.5D * (st.s + st.b)) - st.s)
                       + 0.5D * st.b)
            )
            """
        ).alias("st"),
    )
    return folded.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
        F.col("st.s").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.s") + F.col("st.b")).alias("forecast_next"),
    )


@query(
    "events_decayed_engagement",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS t_max FROM events),
    scored AS (
        SELECT user_id,
               value * EXP(-(EPOCH_US(t_max) - EPOCH_US(ts)) / 86400000000.0 / 7.0)
                   AS w
        FROM events, mx
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(w), 4) AS decayed_score
    FROM scored GROUP BY user_id
    """,
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decayed engagement score per user (half-life ≈
    4.85 days: weight = exp(−age_days / 7)) — the recency-weighted
    activity metric behind ranking/churn features. Anchored at the corpus
    max timestamp (deterministic, never wall-clock).

    Determinism: each weight is one exp() on an exact integer microsecond
    age — cross-engine libm agreement to ≤1 ulp, and the 4dp-rounded SUM
    over ~thousands of ≤1e3 terms leaves ~9 orders of magnitude between
    accumulation noise and the rounding boundary.

    Scale shape: one scalar broadcast (t_max), one map-side-combined
    groupBy(user_id) — a single shuffle at any corpus size."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("t_max"))
    scored = e.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (
            F.col("value")
            * F.exp(
                -(F.unix_micros("t_max") - F.unix_micros("ts")) / 86400000000.0 / 7.0
            )
        ).alias("w"),
    )
    return scored.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("w"), 4).alias("decayed_score"),
    )


@query(
    "pipeline_shard_export",
    oracle="""
    SELECT doc_id % 8 AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM documents
    GROUP BY doc_id % 8
    """,
)
def pipeline_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset shard export with a verification manifest — the publishing
    step of a training-data pipeline (WebDataset/TFRecord-style layout):
    documents land in 8 deterministic shards (doc_id mod 8, so any worker
    can recompute membership), and the MANIFEST row per shard (count, id
    checksum, byte total) is recomputed FROM THE WRITTEN FILES — the
    oracle derives the same manifest from the source table, so a hash
    match proves the export lost nothing.

    Scale shape: one partitioned write (shard = directory), one read-back
    aggregate; manifest rows are map-side combined. Real exports swap
    mod-sharding for range-sharding on a sort key without changing the
    verification contract."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.pmod("doc_id", F.lit(8)).alias("shard")
    )
    out = os.path.join(scratch_dir("shard_export_"), "docs")
    d.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )


@query(
    "fn_datetime_extra",
    oracle="""
    SELECT o_orderkey,
           STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d')
               AS plus_3m,
           STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS month_end,
           STRFTIME(DATE_TRUNC('week', CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS week_start,
           DAYNAME(CAST(o_orderdate AS DATE)) AS day_name,
           CAST(QUARTER(CAST(o_orderdate AS DATE)) AS INT) AS q,
           CAST(WEEKOFYEAR(CAST(o_orderdate AS DATE)) AS INT) AS iso_week
    FROM orders WHERE o_orderkey < 5000
    """,
)
def fn_datetime_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar function family: add_months (with end-of-month clamping —
    both engines clamp Jan 31 + 1 month to Feb 28/29), last_day,
    ISO week-start truncation, English day names, quarter, ISO week
    number. Completes fn_date with the calendar arithmetic a reporting
    layer needs.

    Scale shape: per-row JVM projection inside whole-stage codegen."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 5000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3m"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.trunc(d, "week"), "yyyy-MM-dd").alias("week_start"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.quarter(d).alias("q"),
        F.weekofyear(d).alias("iso_week"),
    )
