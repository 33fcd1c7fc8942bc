"""Wave-281: the longest-run randomness screen (the NIST SP 800-22
family's classic, on the above-median sign sequence) and the Gray-code
encoding round-trip with its defining single-bit-step property (joining
the zigzag/Morton encoding-audit family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_longest_run_test",
    oracle="""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    ),
    med AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY x) AS m
        FROM hourly
    ),
    signs AS (
        SELECT hidx, CASE WHEN x > med.m THEN 1 ELSE 0 END AS s
        FROM hourly CROSS JOIN med
    ),
    flips AS (
        SELECT hidx, s,
               CASE WHEN LAG(s) OVER (ORDER BY hidx) IS NULL
                         OR LAG(s) OVER (ORDER BY hidx) <> s
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ),
    runs AS (
        SELECT s, SUM(new_run) OVER (ORDER BY hidx) AS run_id
        FROM flips
    ),
    rlen AS (
        SELECT run_id, ANY_VALUE(s) AS s,
               CAST(COUNT(*) AS BIGINT) AS len
        FROM runs GROUP BY run_id
    ),
    stats AS (
        SELECT CAST(SUM(len) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(MAX(CASE WHEN s = 1 THEN len ELSE 0 END) AS BIGINT)
                   AS longest_above,
               CAST(MAX(len) AS BIGINT) AS longest_any
        FROM rlen
    )
    SELECT n AS n_obs, n_runs, longest_above, longest_any,
           ROUND(LN(CAST(n AS DOUBLE)) / LN(2.0), 6) AS expected_log2n,
           longest_any > LN(CAST(n AS DOUBLE)) / LN(2.0) + 3
               OR longest_any < LN(CAST(n AS DOUBLE)) / LN(2.0) - 3
               AS run_anomaly
    FROM stats
    """,
)
def events_longest_run_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-run randomness screen (the Erdos-Renyi law of long runs:
    the longest run in n fair coin flips concentrates at log2(n);
    operationalized as the NIST SP 800-22 longest-run-of-ones test,
    public) on the above-median sign sequence of the hourly series: a
    longest run much ABOVE log2(n) means persistence/regimes, much
    BELOW means oscillation — the coarse complement to agg_runs_test
    (which tests the run COUNT, not the extreme). The +/-3 band is the
    conventional screening margin (the exact distribution's spread is
    ~1.87 around log2 n).

    Exactness device: the median is an exact order statistic; run ids
    come from an ordered flip-flag prefix sum (the gaps-and-islands
    device); all outputs integer until two rounded chains.

    Scale shape: hourly rollup + two ordered windows + one run rollup."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"))
    )
    med = hourly.agg(
        F.expr(
            "element_at(array_sort(collect_list(x)),"
            " cast(ceil(count(*) * 0.5) as int))"
        ).alias("m")
    )
    signs = hourly.crossJoin(F.broadcast(med)).select(
        "hidx", F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("s")
    )
    w = Window.orderBy("hidx")
    flips = signs.select(
        "hidx",
        "s",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    wcum = Window.orderBy("hidx").rowsBetween(Window.unboundedPreceding, 0)
    runs = flips.select("s", F.sum("new_run").over(wcum).alias("run_id"))
    rlen = runs.groupBy("run_id").agg(
        F.first("s").alias("s"), F.count("*").cast("long").alias("len")
    )
    stats = rlen.agg(
        F.sum("len").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_runs"),
        F.max(F.when(F.col("s") == 1, F.col("len")).otherwise(0))
        .cast("long")
        .alias("longest_above"),
        F.max("len").cast("long").alias("longest_any"),
    )
    log2n = F.log(F.col("n").cast("double")) / math.log(2.0)
    return stats.select(
        F.col("n").alias("n_obs"),
        "n_runs",
        "longest_above",
        "longest_any",
        F.round(log2n, 6).alias("expected_log2n"),
        (
            (F.col("longest_any") > log2n + 3)
            | (F.col("longest_any") < log2n - 3)
        ).alias("run_anomaly"),
    )


@query(
    "fn_gray_code",
    oracle="""
    WITH ids AS (
        SELECT DISTINCT user_id AS u FROM events
    ),
    enc AS (
        SELECT u, XOR(u, u // 2) AS gray FROM ids
    ),
    -- decode by XOR-folding the shifted prefix (20-bit domain: five
    -- unrolled halvings cover shifts 1, 2, 4, 8, 16)
    d1 AS (SELECT u, gray, XOR(gray, gray // 2) AS b FROM enc),
    d2 AS (SELECT u, gray, XOR(b, b // 4) AS b FROM d1),
    d3 AS (SELECT u, gray, XOR(b, b // 16) AS b FROM d2),
    d4 AS (SELECT u, gray, XOR(b, b // 256) AS b FROM d3),
    d5 AS (SELECT u, gray, XOR(b, b // 65536) AS b FROM d4),
    ordered AS (
        SELECT u, gray, b AS decoded,
               LEAD(gray) OVER (ORDER BY u) AS gray_next,
               LEAD(u) OVER (ORDER BY u) AS u_next
        FROM d5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(SUM(CASE WHEN decoded = u THEN 1 ELSE 0 END) AS BIGINT)
               AS n_roundtrip_ok,
           CAST(SUM(CASE WHEN u_next = u + 1
                         AND BIT_COUNT(XOR(gray, gray_next)) = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_adjacent_onebit,
           CAST(SUM(CASE WHEN u_next = u + 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_adjacent_pairs
    FROM ordered
    """,
)
def fn_gray_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gray-code encode/decode round-trip (Gray, US patent 2632058,
    1953; standard in every encodings text, public) over the distinct
    user ids: encode g = b XOR (b >> 1); decode by the XOR-prefix fold
    (five unrolled doubling shifts cover a 20-bit domain); audit BOTH
    the round-trip identity (decode(encode(x)) = x, counted in-band)
    and the DEFINING property — consecutive integers differ in exactly
    one Gray bit (BIT_COUNT of the XOR = 1), which is why Gray codes
    index Karnaugh maps, rotary encoders, and Morton-adjacent cache
    layouts (fn_morton_interleave's sibling audit).

    Determinism: pure integer XOR/shift arithmetic in both engines
    (DuckDB // = Spark shiftright for non-negative values).

    Scale shape: per-row bit arithmetic + one aggregate."""
    ids = (
        table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("u"))
        .distinct()
    )
    enc = ids.select(
        "u", F.expr("u ^ shiftright(u, 1)").alias("gray")
    )
    b = F.col("gray")
    cur = enc.withColumn("b", F.expr("gray ^ shiftright(gray, 1)"))
    for shift in (2, 4, 8, 16):
        cur = cur.withColumn("b", F.expr(f"b ^ shiftright(b, {shift})"))
    w = Window.orderBy("u")
    ordered = cur.select(
        "u",
        "gray",
        F.col("b").alias("decoded"),
        F.lead("gray").over(w).alias("gray_next"),
        F.lead("u").over(w).alias("u_next"),
    )
    return ordered.agg(
        F.count("*").cast("long").alias("n_ids"),
        F.sum(F.when(F.col("decoded") == F.col("u"), 1).otherwise(0))
        .cast("long")
        .alias("n_roundtrip_ok"),
        F.sum(
            F.when(
                (F.col("u_next") == F.col("u") + 1)
                & (
                    F.expr("bit_count(gray ^ gray_next)") == 1
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_adjacent_onebit"),
        F.sum(F.when(F.col("u_next") == F.col("u") + 1, 1).otherwise(0))
        .cast("long")
        .alias("n_adjacent_pairs"),
    )
