"""Wave-218: doubly-robust (AIPW) average-treatment-effect estimation
and the Quade test for weighted within-block ranks.

AIPW closes the causal family (CUPED uplift, propensity matching,
diff-in-diff, RDD are registered): it combines a propensity model and
an outcome model so the estimate stays consistent if EITHER one is
right — the "doubly robust" property. Both models here are exact
stratified closed forms (day-of-week cells), so the whole estimator is
integer moments + one ordered fold. Quade upgrades Friedman when block
sizes carry signal: blocks with a wider spread get proportionally more
weight via the rank of their range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 4  # Quade treatments: six-hour bins


@query(
    "events_doubly_robust_ate",
    oracle="""
    WITH base AS (
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
               CASE WHEN HOUR(ts) >= 12 THEN 1 ELSE 0 END AS t,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
        FROM events
    ),
    cells AS (
        SELECT dow,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS nt,
               CAST(SUM(t * y) AS BIGINT) AS syt,
               CAST(SUM((1 - t) * y) AS BIGINT) AS syc
        FROM base GROUP BY dow
    ),
    terms AS (
        -- per-row AIPW term, nano-floored; models are the dow-cell
        -- means (outcome) and dow-cell treated share (propensity)
        SELECT b.dow, b.t, b.y,
               CAST(FLOOR(1e3 * (
                   (b.t * (b.y - c.syt / CAST(c.nt AS DOUBLE))
                    / (c.nt / CAST(c.n AS DOUBLE))
                    + c.syt / CAST(c.nt AS DOUBLE))
                   - ((1 - b.t) * (b.y - c.syc
                                   / CAST(c.n - c.nt AS DOUBLE))
                      / ((c.n - c.nt) / CAST(c.n AS DOUBLE))
                      + c.syc / CAST(c.n - c.nt AS DOUBLE))))
                    AS BIGINT) AS dr_milli
        FROM base b JOIN cells c ON c.dow = b.dow
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dr_milli) AS BIGINT) AS sdr
        FROM terms
    ),
    naive AS (
        SELECT SUM(t * y) / CAST(SUM(t) AS DOUBLE)
               - SUM((1 - t) * y) / CAST(SUM(1 - t) AS DOUBLE) AS d
        FROM base
    )
    SELECT a.n AS n_events,
           ROUND(nv.d / 100, 6) AS ate_naive,
           ROUND(a.sdr / (1e3 * a.n * 100), 6) AS ate_aipw
    FROM agg a, naive nv
    """,
)
def events_doubly_robust_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) average treatment effect of "afternoon"
    (hour >= 12) on spend, stratified by day-of-week: per row,
    dr = [T(y - m1)/e + m1] - [(1-T)(y - m0)/(1-e) + m0] with m1/m0 the
    cell outcome means and e the cell treated share; ATE = mean(dr).
    Consistent if EITHER the outcome model or the propensity model is
    correct — the property neither plain regression adjustment nor IPW
    alone has — shown next to the naive difference for contrast.

    Determinism: cell moments are exact integers; each per-row dr term
    is one fixed double expression floored to milli-cents BEFORE the
    global sum, so the mean is a ratio of exact integers.

    Scale shape: one groupBy(dow) for the models (broadcast back), one
    map-side pass for the terms — two linear scans, no pairwise stage."""
    events = table(spark, sf_dir, "events")
    base = events.select(
        F.dayofweek(F.to_date("ts")).cast("long").alias("dow"),
        F.when(F.hour("ts") >= 12, 1).otherwise(0).alias("t"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"),
    )
    cells = base.groupBy("dow").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("nt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("syt"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("syc"),
    )
    m1 = F.col("syt") / F.col("nt").cast("double")
    m0 = F.col("syc") / (F.col("n") - F.col("nt")).cast("double")
    e1 = F.col("nt") / F.col("n").cast("double")
    e0 = (F.col("n") - F.col("nt")) / F.col("n").cast("double")
    dr = (
        F.col("t") * (F.col("y") - m1) / e1 + m1
    ) - ((1 - F.col("t")) * (F.col("y") - m0) / e0 + m0)
    terms = base.join(F.broadcast(cells), "dow").select(
        F.floor(F.lit(1e3) * dr).cast("long").alias("dr_milli")
    )
    agg = terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dr_milli").cast("long").alias("sdr"),
    )
    naive = base.agg(
        (
            F.sum(F.col("t") * F.col("y")) / F.sum("t").cast("double")
            - F.sum((1 - F.col("t")) * F.col("y"))
            / F.sum(1 - F.col("t")).cast("double")
        ).alias("d")
    )
    return agg.crossJoin(F.broadcast(naive)).select(
        F.col("n").alias("n_events"),
        F.round(F.col("d") / 100, 6).alias("ate_naive"),
        F.round(F.col("sdr") / (F.lit(1e3) * F.col("n") * 100), 6).alias(
            "ate_aipw"
        ),
    )


@query(
    "agg_quade_test",
    oracle=f"""
    WITH grid AS (
        SELECT d.day, t.bin
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d,
             UNNEST(GENERATE_SERIES(0, {_K - 1})) AS t(bin)
    ),
    cells AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(HOUR(ts) // 6 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT g.day, g.bin, COALESCE(c.c, 0) AS c
        FROM grid g LEFT JOIN cells c
          ON c.day = g.day AND c.bin = g.bin
    ),
    ranked AS (
        SELECT day, bin,
               2 * COUNT(*) OVER (PARTITION BY day ORDER BY c
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 + COUNT(*) OVER (PARTITION BY day ORDER BY c
                     RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
                 + 1 AS r2
        FROM dense
    ),
    ranges AS (
        SELECT day, CAST(MAX(c) - MIN(c) AS BIGINT) AS rng
        FROM dense GROUP BY day
    ),
    qw AS (
        SELECT day,
               2 * COUNT(*) OVER (ORDER BY rng
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 + COUNT(*) OVER (ORDER BY rng
                     RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
                 + 1 AS q2
        FROM ranges
    ),
    scores AS (
        -- S_bj = Q_b * (r_bj - (k+1)/2), kept x4 to stay integral
        SELECT r.bin,
               CAST(SUM(q.q2 * (r.r2 - {_K + 1})) AS BIGINT) AS s4
        FROM ranked r JOIN qw q ON q.day = r.day
        GROUP BY r.bin
    ),
    tots AS (
        SELECT CAST(SUM(CAST(s4 AS HUGEINT) * s4) AS HUGEINT) AS b16,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ranges) AS n
        FROM scores
    ),
    aa AS (
        SELECT CAST(SUM(CAST(q.q2 AS HUGEINT) * q.q2
                        * (r.r2 - {_K + 1}) * (r.r2 - {_K + 1}))
                    AS HUGEINT) AS a16
        FROM ranked r JOIN qw q ON q.day = r.day
    )
    SELECT t.n AS n_blocks, {_K} AS k_treatments,
           ROUND(CAST(t.b16 AS DOUBLE) / t.n / 16.0e0, 6) AS b_stat,
           ROUND(CAST(a.a16 AS DOUBLE) / 16.0e0, 6) AS a_stat,
           ROUND((t.n - 1) * (CAST(t.b16 AS DOUBLE) / t.n)
                 / (CAST(a.a16 AS DOUBLE)
                    - CAST(t.b16 AS DOUBLE) / t.n), 6) AS quade_f
    FROM tots t, aa a
    """,
)
def agg_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test on the day x six-hour-bin counts: within-day mid-ranks
    centered at (k+1)/2, weighted by the rank of each DAY's range, so
    high-signal days drive the statistic — the power upgrade over
    Friedman (registered) when block magnitudes differ, which daily
    event volumes always do. F = (n-1)*B/(A-B) with A the weighted
    sum of squares and B the treatment-score share.

    Determinism: both rank layers are doubled mid-ranks (exact ints);
    centered scores stay integral by keeping the x4 scaling explicit;
    A and B are exact 128-bit sums with two double divisions at the end.

    Scale shape: per-day collapse, 4-row per-day rank windows, one
    bounded day-level range rank — same posture as agg_page_trend."""
    events = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    cells = events.groupBy(
        F.to_date("ts").alias("day"),
        (F.hour("ts") / 6).cast("long").alias("bin"),
    ).agg(F.count("*").cast("long").alias("c"))
    days = events.select(F.to_date("ts").alias("day")).distinct()
    grid = days.crossJoin(
        F.broadcast(
            spark.range(_K).select(F.col("id").cast("long").alias("bin"))
        )
    )
    dense = grid.join(cells, ["day", "bin"], "left").fillna(0, ["c"])
    byc = Window.partitionBy("day").orderBy("c")
    ranked = dense.withColumn(
        "r2",
        2 * F.count("*").over(byc.rangeBetween(Window.unboundedPreceding, -1))
        + F.count("*").over(byc.rangeBetween(0, 0))
        + 1,
    )
    ranges = dense.groupBy("day").agg(
        (F.max("c") - F.min("c")).cast("long").alias("rng")
    )
    byr = Window.orderBy("rng")  # bounded: one row per day
    qw = ranges.withColumn(
        "q2",
        2 * F.count("*").over(byr.rangeBetween(Window.unboundedPreceding, -1))
        + F.count("*").over(byr.rangeBetween(0, 0))
        + 1,
    ).select("day", "q2")
    joined = ranked.join(qw, "day").select(
        "bin",
        "day",
        (F.col("q2") * (F.col("r2") - (_K + 1))).alias("s4term"),
        (
            F.col("q2").cast("decimal(38,0)")
            * F.col("q2")
            * (F.col("r2") - (_K + 1))
            * (F.col("r2") - (_K + 1))
        ).alias("a16term"),
    )
    scores = joined.groupBy("bin").agg(
        F.sum("s4term").cast("long").alias("s4")
    )
    tots = scores.agg(
        F.sum(F.col("s4").cast("decimal(38,0)") * F.col("s4")).alias("b16")
    )
    aa = joined.agg(F.sum("a16term").alias("a16"))
    # n folded in as a 1-row broadcast frame (no build-time count job)
    nf = days.agg(F.count("*").cast("long").alias("n"))
    b = F.col("b16").cast("double") / F.col("n")
    return (
        tots.crossJoin(F.broadcast(aa))
        .crossJoin(F.broadcast(nf))
        .select(
            F.col("n").cast("long").alias("n_blocks"),
            F.lit(_K).cast("int").alias("k_treatments"),
            F.round(b / 16.0, 6).alias("b_stat"),
            F.round(F.col("a16").cast("double") / 16.0, 6).alias("a_stat"),
            F.round(
                (F.col("n") - 1) * b / (F.col("a16").cast("double") - b), 6
            ).alias("quade_f"),
        )
    )
