"""Wave-36: forward as-of join, typed JSON parsing, 28-day rolling MAU,
explode_outer null semantics.

Completes the as-of family (backward / banded / nearest / now FORWARD)
and demonstrates the bitmap-union approach to rolling DISTINCT counts —
the one windowed aggregate that can't be computed from partial sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "join_asof_forward",
    oracle="""
    WITH ranked AS (
        SELECT o.o_orderkey, o.o_custkey,
               STRFTIME(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_day,
               e.event_id, e.ts,
               ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY e.ts, e.event_id) AS rk
        FROM orders o
        JOIN events e ON e.user_id = o.o_custkey
                     AND e.ts >= CAST(o.o_orderdate AS TIMESTAMP)
        WHERE o.o_orderkey < 3000
    )
    SELECT o_orderkey, o_custkey, order_day,
           event_id AS first_event_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS first_event_ts
    FROM ranked WHERE rk = 1
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — for each order, the EARLIEST event at-or-after
    the order date for that customer (the 'next touch after purchase'
    question; backward/banded/nearest variants live in operators.joins).
    min(struct(ts, event_id)) replaces the row_number window, so the
    per-order reduction is partially aggregatable — map-side combine
    shrinks the shuffle to one row per order before it moves.

    Scale shape: one equi-join on the user key (the time predicate rides
    the join), one map-side-combined argmin — and at 100 TB the banded
    variant caps the join fan-out exactly as join_asof_banded does."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 3000)
    e = table(spark, sf_dir, "events")
    joined = o.join(
        e,
        (e.user_id == o.o_custkey) & (e.ts >= o.o_orderdate.cast("timestamp")),
    )
    best = joined.groupBy("o_orderkey", "o_custkey", "o_orderdate").agg(
        F.min(F.struct("ts", "event_id")).alias("first")
    )
    return best.select(
        "o_orderkey",
        "o_custkey",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias("order_day"),
        F.col("first.event_id").alias("first_event_id"),
        F.date_format("first.ts", "yyyy-MM-dd HH:mm:ss").alias("first_event_ts"),
    )


@query(
    "fn_from_json_struct",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(MIN(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS max_k,
           CAST(SUM(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    """,
)
def fn_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPED JSON parsing with from_json + an explicit schema (the
    schema-on-read contract, vs events_props_json_agg's stringly
    get_json_object): props parses to struct<k: bigint> ONCE, then the
    typed field aggregates like any column. At scale the difference is a
    single parse per row and full codegen on the extracted field — never
    repeated string probing.

    Scale shape: parse is a per-row JVM projection; the rollup is one
    map-side-combined groupBy."""
    e = table(spark, sf_dir, "events").where(F.col("props").isNotNull())
    parsed = e.select(
        "event_type",
        F.from_json("props", T.StructType([T.StructField("k", T.LongType())])).alias("p"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
        F.sum("p.k").cast("long").alias("sum_k"),
    )


@query(
    "events_mau_28d_bitmap",
    oracle="""
    WITH days AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
    ),
    active AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    )
    SELECT STRFTIME(days.d, '%Y-%m-%d') AS day,
           COUNT(DISTINCT a.user_id) AS mau_28d
    FROM days
    JOIN active a ON a.d <= days.d AND a.d > days.d - 28
    GROUP BY days.d
    """,
)
def events_mau_28d_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 28-day MAU — the one windowed metric partial SUMS cannot
    build (distinct doesn't decompose): per-day user BITMAPS (one bit per
    user id) are OR-merged across each day's trailing 28-day window via
    the offset-explode equi-join, then popcounted. Day bitmaps are built
    ONCE from the raw events (map-side distinct), so the rolling pass
    touches |days|×28 bitmap rows, never raw events.

    Scale shape: bitmap segments are bounded by max user id / 64 longs;
    at extreme user cardinality the same plan runs on HLL sketches
    (agg_hll_union_rollup) with exact→approx as the only change."""
    e = table(spark, sf_dir, "events")
    # day -> user bitmap (array of 64-bit words, index = user_id div 64)
    day_users = e.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    word = day_users.groupBy(
        "d", F.expr("user_id div 64").alias("w_idx")
    ).agg(
        # SQL-expr fold: python F.shiftleft rejects Column shift amounts
        F.expr(
            "aggregate(collect_list(cast(user_id % 64 as int)), 0L,"
            " (acc, b) -> acc | shiftleft(1L, b))"
        ).alias("bits")
    )
    days = day_users.select("d").distinct()
    centers = days.select(
        F.col("d").alias("day"),
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("off"),
    ).select("day", F.date_sub(F.col("day"), F.col("off")).alias("md"))
    rolled = (
        centers.join(word, word.d == centers.md)
        .groupBy("day", "w_idx")
        .agg(
            F.expr("aggregate(collect_list(bits), 0L, (acc, b) -> acc | b)").alias("merged")
        )
    )
    return rolled.groupBy("day").agg(
        F.sum(F.bit_count("merged")).alias("mau_28d")
    ).select(F.date_format("day", "yyyy-MM-dd").alias("day"), "mau_28d")


@query(
    "fn_explode_outer",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN []
                    ELSE STRING_SPLIT(text, ' ')[1:3] END AS toks
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, u.tok, u.i
    FROM t LEFT JOIN LATERAL (
        SELECT UNNEST(toks) AS tok,
               GENERATE_SUBSCRIPTS(toks, 1) - 1 AS i
    ) u ON TRUE
    """,
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer semantics: rows with EMPTY arrays survive as one
    (NULL, NULL) row instead of vanishing — the left-join-lateral contract
    that keeps per-document accounting honest when a filter empties a
    token list (plain explode silently drops those documents).

    Scale shape: generator projection, no shuffle."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    t = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.array().cast("array<string>"))
        .otherwise(F.slice(F.split("text", " "), 1, 3))
        .alias("toks"),
    )
    return t.select("doc_id", F.posexplode_outer("toks").alias("i", "tok")).select(
        "doc_id", "tok", "i"
    )
