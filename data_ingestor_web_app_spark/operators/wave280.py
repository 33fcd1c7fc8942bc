"""Wave-280: reliability engineering — the Duane reliability-growth
model (log-log fit of cumulative failure rate) and Nelson's mean
cumulative function for recurrent events (the recurrent-event curve
that Kaplan-Meier, which only sees FIRST events, cannot draw).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_duane_growth",
    oracle="""
    WITH fails AS (
        SELECT epoch_us(ts) AS t,
               ROW_NUMBER() OVER (ORDER BY ts, event_id) AS n
        FROM events WHERE event_type = 'error'
    ),
    t0 AS (SELECT MIN(epoch_us(ts)) AS start_t FROM events),
    pts AS (
        SELECT LN((f.t - z.start_t) / 3600000000.0) AS lx,
               LN(f.n / ((f.t - z.start_t) / 3600000000.0)) AS ly
        FROM fails f CROSS JOIN t0 z
        WHERE f.t > z.start_t
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               / (SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx)) AS slope,
               AVG(ly) - (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
                         / (SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx))
                         * AVG(lx) AS intercept
        FROM pts
    )
    SELECT n AS n_failures,
           ROUND(slope, 6) AS duane_slope,
           ROUND(intercept, 6) AS ln_lambda,
           ROUND(-slope, 6) AS growth_alpha,
           slope < 0 AS reliability_growing
    FROM fit
    """,
)
def model_duane_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Duane reliability-growth model (Duane, IEEE Trans. Aerospace
    1964, public): plot the CUMULATIVE failure rate N(t)/t against
    operating time t on log-log axes; a straight line with negative
    slope -alpha is the Duane postulate, and alpha is the growth rate
    every hardware/ops program tracks release over release (alpha ~
    0.3-0.5 is a healthy debugging program; here 'failures' are error
    events and t is hours since stream start). The slope's SIGN is the
    one-bit answer: is this system getting more or less reliable as it
    runs?

    Exactness device: failure ordinals are exact row numbers over a
    total order; the log-log OLS is the closed-form chain on exact
    micros-derived hours; the flag compares the identical unrounded
    slope.

    Scale shape (r8 rework, VERDICT r7 item 4): failure ordinals come
    from the two-phase sharded prefix rank (rank within equal ts +
    distinct-ts cumulative offsets, rank_utils.global_row_index) —
    bit-identical to the single-partition row_number, no corpus-sized
    window partition — then one moment aggregate."""
    from data_ingestor_web_app_spark.operators.rank_utils import global_row_index

    e = table(spark, sf_dir, "events")
    fails = global_row_index(
        e.where(F.col("event_type") == "error").select("ts", "event_id"),
        "ts",
        "event_id",
    ).select(
        F.expr("unix_micros(ts)").alias("t"),
        F.col("__i").alias("n"),
    )
    t0 = e.agg(F.min(F.expr("unix_micros(ts)")).alias("start_t"))
    hours = (F.col("t") - F.col("start_t")) / 3600000000.0
    pts = (
        fails.crossJoin(F.broadcast(t0))
        .where(F.col("t") > F.col("start_t"))
        .select(
            F.log(hours).alias("lx"),
            F.log(F.col("n") / hours).alias("ly"),
        )
    )
    sxx = F.sum(F.col("lx") * F.col("lx")) - F.count("*") * F.avg("lx") * F.avg("lx")
    sxy = F.sum(F.col("lx") * F.col("ly")) - F.count("*") * F.avg("lx") * F.avg("ly")
    fit = pts.agg(
        F.count("*").cast("long").alias("n"),
        (sxy / sxx).alias("slope"),
        (F.avg("ly") - (sxy / sxx) * F.avg("lx")).alias("intercept"),
    )
    return fit.select(
        F.col("n").alias("n_failures"),
        F.round("slope", 6).alias("duane_slope"),
        F.round("intercept", 6).alias("ln_lambda"),
        F.round(-F.col("slope"), 6).alias("growth_alpha"),
        (F.col("slope") < 0).alias("reliability_growing"),
    )


@query(
    "events_mcf_recurrent",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               MIN(CAST(ts AS DATE)) AS d0,
               MAX(CAST(ts AS DATE)) AS dlast
        FROM events GROUP BY user_id
    ),
    errs AS (
        SELECT e.user_id,
               DATEDIFF('day', s.d0, CAST(e.ts AS DATE)) AS age
        FROM events e JOIN spans s ON s.user_id = e.user_id
        WHERE e.event_type = 'error'
    ),
    ages AS (SELECT UNNEST(RANGE(0, 28)) AS t),
    per_age AS (
        SELECT a.t,
               CAST((SELECT COUNT(*) FROM errs WHERE age = a.t) AS BIGINT)
                   AS d_t,
               CAST((SELECT COUNT(*) FROM spans
                     WHERE DATEDIFF('day', d0, dlast) >= a.t) AS BIGINT)
                   AS n_risk
        FROM ages a
    ),
    inc AS (
        SELECT t, d_t, n_risk,
               SUM(CASE WHEN n_risk > 0
                        THEN d_t / CAST(n_risk AS DOUBLE) ELSE 0 END)
                   OVER (ORDER BY t) AS mcf
        FROM per_age
    )
    SELECT CAST(t AS BIGINT) AS age_days, d_t AS n_events, n_risk,
           ROUND(mcf, 6) AS mcf
    FROM inc WHERE n_risk > 0 ORDER BY age_days
    """,
)
def events_mcf_recurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson's mean cumulative function for recurrent events (Nelson,
    Technometrics 1988; the warranty-data standard, public): per age
    day t since each user's first activity, MCF(t) = sum over ages <=
    t of (error events at that age) / (users still under observation
    at that age — those whose observed span reaches t). The recurrent-
    event answer to "how many errors does a user accumulate by age
    t?", which events_kaplan_meier (first event only) and raw rates
    (ignore censoring) both get wrong. MCF's slope flattening is the
    burn-in signature.

    Exactness device: ages are exact date diffs; risk sets are integer
    span comparisons; the cumulative sum runs over the ordered bounded
    age frame.

    Scale shape: a per-user span rollup, an age rollup of the error
    subset, and a 28-row cumulative window — the ORACLE's correlated
    counts become two grouped aggregates in the engine."""
    e = table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("dlast"),
    )
    errs = (
        e.where(F.col("event_type") == "error")
        .join(spans, "user_id")
        .select(
            F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("age")
        )
    )
    d_t = errs.groupBy("age").agg(F.count("*").cast("long").alias("d_t"))
    span_len = spans.select(
        F.datediff("dlast", "d0").alias("span")
    )
    ages = table(spark, sf_dir, "events").sparkSession.range(0, 28).select(
        F.col("id").alias("t")
    )
    risk = (
        ages.crossJoin(span_len)
        .where(F.col("span") >= F.col("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("n_risk"))
    )
    per_age = (
        ages.join(d_t.withColumnRenamed("age", "t"), "t", "left_outer")
        .join(risk, "t", "left_outer")
        .select(
            "t",
            F.coalesce("d_t", F.lit(0)).cast("long").alias("d_t"),
            F.coalesce("n_risk", F.lit(0)).cast("long").alias("n_risk"),
        )
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    inc = per_age.withColumn(
        "mcf",
        F.sum(
            F.when(
                F.col("n_risk") > 0,
                F.col("d_t") / F.col("n_risk").cast("double"),
            ).otherwise(0.0)
        ).over(w),
    )
    return inc.where(F.col("n_risk") > 0).select(
        F.col("t").cast("long").alias("age_days"),
        F.col("d_t").alias("n_events"),
        "n_risk",
        F.round("mcf", 6).alias("mcf"),
    ).orderBy("age_days")
