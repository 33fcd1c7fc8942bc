"""Wave-375: the LB_Keogh lower bound for dynamic time warping (Keogh &
Ratanamahatana, KAIS 2005 — the envelope bound that makes DTW indexable)
between day-of-week hourly load profiles, and head/tail breaks
classification (Jiang, The Professional Geographer 2013) for heavy-tailed
document lengths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_R = 2  # Sakoe-Chiba envelope radius (hours)


@query(
    "events_lb_keogh",
    oracle=f"""
    WITH hourly AS (
        SELECT ISODOW(ts) - 1 AS dow, EXTRACT(hour FROM ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    profiles AS (
        -- per-(dow, hour) milli-rate: exact floor division of the count
        -- by the number of distinct calendar days of that weekday
        SELECT h.dow, h.h,
               CAST(1000 * h.c // d.nd AS BIGINT) AS q
        FROM hourly h JOIN (
            SELECT ISODOW(ts) - 1 AS dow,
                   CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS nd
            FROM events GROUP BY 1
        ) d ON d.dow = h.dow
    ),
    env AS (
        SELECT dow, h, q,
               MAX(q) OVER (PARTITION BY dow ORDER BY h
                   ROWS BETWEEN {_R} PRECEDING AND {_R} FOLLOWING) AS u,
               MIN(q) OVER (PARTITION BY dow ORDER BY h
                   ROWS BETWEEN {_R} PRECEDING AND {_R} FOLLOWING) AS l
        FROM profiles
    ),
    pairs AS (
        SELECT q.dow AS query_dow, e.dow AS cand_dow,
               SUM(CASE WHEN q.q > e.u THEN (q.q - e.u) * (q.q - e.u)
                        WHEN q.q < e.l THEN (e.l - q.q) * (e.l - q.q)
                        ELSE 0 END) AS lb,
               SUM(CASE WHEN q.q > e.u OR q.q < e.l THEN 1 ELSE 0 END)
                   AS n_outside
        FROM profiles q JOIN env e ON e.h = q.h AND e.dow <> q.dow
        GROUP BY 1, 2
    )
    SELECT CAST(query_dow AS INT) AS query_dow,
           CAST(cand_dow AS INT) AS cand_dow,
           CAST(lb AS BIGINT) AS lb_keogh_sq_milli,
           CAST(n_outside AS INT) AS n_hours_outside
    FROM pairs
    """,
)
def events_lb_keogh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LB_Keogh (2005) between every ordered pair of day-of-week hourly
    load profiles: the candidate series is wrapped in its Sakoe-Chiba
    radius-2 envelope (running min/max over ±2 hours) and the bound sums
    squared violations of the query outside [L, U] — the cheap O(n)
    lower bound that lets a DTW index discard candidates without running
    the O(n²) alignment. 42 ordered pairs (7 weekdays × 6 others); dow is ISO Monday=0
    in BOTH engines (Spark weekday() / DuckDB ISODOW()-1).

    Determinism: profiles are exact milli-rates (1000·count // n_days,
    exact floor division); envelopes and violations are integer min/max
    and squares — every output column is an exact integer.

    Scale shape: one (dow, hour) collapse (bounded 7×24 frame), envelope
    windows partitioned BY dow over 24 rows, and a bounded 168×168-max
    equi-join on the hour."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.weekday("ts").alias("dow"), F.hour("ts").alias("h")
    ).agg(F.count("*").cast("long").alias("c"))
    days = e.groupBy(F.weekday("ts").alias("dow")).agg(
        F.countDistinct(F.col("ts").cast("date")).cast("long").alias("nd")
    )
    profiles = hourly.join(days, "dow").select(
        "dow",
        "h",
        F.expr("CAST(1000 * c div nd AS LONG)").alias("q"),
    )
    w = (
        Window.partitionBy("dow")
        .orderBy("h")
        .rowsBetween(-_R, _R)
    )
    env = profiles.select(
        F.col("dow").alias("edow"),
        F.col("h").alias("eh"),
        F.max("q").over(w).alias("u"),
        F.min("q").over(w).alias("l"),
    )
    pairs = (
        profiles.join(
            env,
            (F.col("eh") == F.col("h")) & (F.col("edow") != F.col("dow")),
        )
        .groupBy(
            F.col("dow").alias("query_dow"), F.col("edow").alias("cand_dow")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("q") > F.col("u"),
                    (F.col("q") - F.col("u")) * (F.col("q") - F.col("u")),
                )
                .when(
                    F.col("q") < F.col("l"),
                    (F.col("l") - F.col("q")) * (F.col("l") - F.col("q")),
                )
                .otherwise(0)
            )
            .cast("long")
            .alias("lb_keogh_sq_milli"),
            F.sum(
                F.when(
                    (F.col("q") > F.col("u")) | (F.col("q") < F.col("l")), 1
                ).otherwise(0)
            )
            .cast("int")
            .alias("n_hours_outside"),
        )
    )
    return pairs.select(
        F.col("query_dow").cast("int"),
        F.col("cand_dow").cast("int"),
        "lb_keogh_sq_milli",
        "n_hours_outside",
    )


_HT_ROUNDS = 4


def _ht_round_sql(r: int) -> str:
    """One head/tail split: keep values strictly above the mean of the
    previous subset. The mean test v > sum/cnt is done as the EXACT
    integer cross-multiplication v * cnt > sum."""
    prev = f"sub{r - 1}" if r > 1 else "vals"
    return f"""
    m{r} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(v) AS BIGINT) AS s
        FROM {prev}
    ),
    sub{r} AS (
        SELECT p.v FROM {prev} p, m{r} WHERE p.v * m{r}.cnt > m{r}.s
    ),
    row{r} AS (
        SELECT {r} AS round,
               m{r}.cnt AS n_values,
               ROUND(CAST(m{r}.s AS DOUBLE) / m{r}.cnt, 4) AS mean_len,
               (SELECT COUNT(*) FROM sub{r}) AS head_n,
               ROUND((SELECT COUNT(*) FROM sub{r})
                     * 1.0 / m{r}.cnt, 6) AS head_share
        FROM m{r}
    )"""


@query(
    "model_head_tail_breaks",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(LENGTH(text) AS BIGINT) AS v FROM documents
    ),
    {",".join(_ht_round_sql(r).lstrip().lstrip(",") for r in range(1, _HT_ROUNDS + 1))}
    SELECT * FROM row1 UNION ALL SELECT * FROM row2
    UNION ALL SELECT * FROM row3 UNION ALL SELECT * FROM row4
    ORDER BY round
    """,
)
def model_head_tail_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/tail breaks (Jiang 2013): iteratively split a heavy-tailed
    distribution at its mean and recurse into the head — the natural
    classification for rank-size data (city sizes, document lengths)
    where equal-width or Jenks bins obscure the tail. Four unrolled
    rounds over document lengths; each row reports that round's subset
    size, mean (the break), head count and head share (the replay pytest
    checks every round strictly shrinks — the fixture lengths are only
    mildly heavy-tailed, so Jiang's <0.4 criterion is not asserted).

    Determinism: the split predicate v > mean is evaluated as the exact
    integer cross-multiplication v·cnt > Σv, so subset membership is
    identical in both engines; means ROUND 4, shares ROUND 6.

    Scale shape: each round is a 1-row aggregate broadcast back as a
    threshold filter (the window-normalization alternative does not apply
    — the threshold is a scalar), linear passes, ≤ 4 of them."""
    vals = table(spark, sf_dir, "documents").select(
        F.length("text").cast("long").alias("v")
    )
    # r11 lineage truncation (wave124 idiom) + pass reuse: round r's head
    # count IS round r+1's row count (head_n = cnt of the filtered frame the
    # next aggregate reads), so ONE extra 1-row aggregate replaces the four
    # per-round count passes; eagerly checkpointing each 1-row (cnt, s)
    # frame stops the final union re-executing every round's whole filter
    # chain per branch (~20 progressively-filtered corpus passes -> 5).
    # All emitted values are the same integers/doubles.
    ms = []
    cur = vals
    for _ in range(_HT_ROUNDS + 1):
        m = cur.agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("v").cast("long").alias("s"),
        ).localCheckpoint(eager=True)
        ms.append(m)
        cur = (
            cur.crossJoin(F.broadcast(m))
            .where(F.col("v") * F.col("cnt") > F.col("s"))
            .select("v")
        )
    rows = []
    for r in range(1, _HT_ROUNDS + 1):
        hn = ms[r].select(F.col("cnt").alias("head_n"))
        rows.append(
            ms[r - 1]
            .crossJoin(F.broadcast(hn))
            .select(
                F.lit(r).cast("int").alias("round"),
                F.col("cnt").alias("n_values"),
                F.round(F.col("s").cast("double") / F.col("cnt"), 4).alias(
                    "mean_len"
                ),
                F.col("head_n"),
                F.round(F.col("head_n") * 1.0 / F.col("cnt"), 6).alias(
                    "head_share"
                ),
            )
        )
    out = rows[0]
    for fr in rows[1:]:
        out = out.unionAll(fr)
    return out.orderBy("round")
