"""Wave-96: linear-interpolation gap fill, McNemar's paired test, and
MTTR/MTBF incident reliability metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "win_linear_interpolate",
    oracle="""
    WITH masked AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events WHERE user_id < 50
    ),
    bounds AS (
        SELECT event_id, user_id, ts, v,
               LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN EPOCH_US(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_t,
               FIRST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN EPOCH_US(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_t
        FROM masked
    )
    SELECT event_id, user_id,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL AND next_t <> prev_t
               THEN prev_v + (next_v - prev_v)
                    * (EPOCH_US(ts) - prev_t) / (next_t - prev_t)
             WHEN prev_v IS NOT NULL THEN prev_v
             ELSE next_v END, 6) AS v_filled,
           v IS NULL AS was_interpolated
    FROM bounds
    ORDER BY user_id, event_id
    """,
)
def win_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of missing values (the
    sensor/ETL gap-fill one notch above LOCF, public): a deterministic
    mask (event_id % 7 = 0) nulls every 7th reading, and each hole is
    reconstructed from its nearest non-null neighbors, weighted by
    elapsed time — edges fall back to LOCF / next-observation. This is
    events_gapfill_locf's linear sibling.

    Determinism: neighbor lookup uses IGNORE NULLS frame windows over
    the (ts, event_id) total order; the interpolation weight is one
    fixed double expression from integer epochs, rounded 6dp.

    Scale shape: two frame windows per user partition — parallel across
    users, no self-join, single pass."""
    masked = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") < 50)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("value"))
            .alias("v"),
        )
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    before = order.rowsBetween(Window.unboundedPreceding, -1)
    after = order.rowsBetween(1, Window.unboundedFollowing)
    t_if_v = F.when(F.col("v").isNotNull(), F.unix_micros("ts"))
    bounds = masked.select(
        "event_id",
        "user_id",
        "ts",
        "v",
        F.last("v", ignorenulls=True).over(before).alias("prev_v"),
        F.last(t_if_v, ignorenulls=True).over(before).alias("prev_t"),
        F.first("v", ignorenulls=True).over(after).alias("next_v"),
        F.first(t_if_v, ignorenulls=True).over(after).alias("next_t"),
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.unix_micros("ts") - F.col("prev_t")
    ) / (F.col("next_t") - F.col("prev_t"))
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("prev_v").isNotNull()
            & F.col("next_v").isNotNull()
            & (F.col("next_t") != F.col("prev_t")),
            interp,
        )
        .when(F.col("prev_v").isNotNull(), F.col("prev_v"))
        .otherwise(F.col("next_v"))
    )
    return bounds.select(
        "event_id",
        "user_id",
        F.round(filled, 6).alias("v_filled"),
        F.col("v").isNull().alias("was_interpolated"),
    ).orderBy("user_id", "event_id")


@query(
    "agg_mcnemar_test",
    oracle="""
    WITH preds AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS rule_a,
               CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS rule_b
        FROM lineitem
    ),
    cells AS (
        SELECT
          CAST(SUM(CASE WHEN rule_a = y AND rule_b <> y THEN 1 ELSE 0 END)
               AS BIGINT) AS b,
          CAST(SUM(CASE WHEN rule_a <> y AND rule_b = y THEN 1 ELSE 0 END)
               AS BIGINT) AS c,
          CAST(SUM(CASE WHEN rule_a = y AND rule_b = y THEN 1 ELSE 0 END)
               AS BIGINT) AS both_right,
          CAST(SUM(CASE WHEN rule_a <> y AND rule_b <> y THEN 1 ELSE 0 END)
               AS BIGINT) AS both_wrong
        FROM preds
    )
    SELECT b, c, both_right, both_wrong,
           ROUND((ABS(b - c) - 1) * (ABS(b - c) - 1) * 1.0 / (b + c), 6)
               AS mcnemar_chi2,
           (ABS(b - c) - 1) * (ABS(b - c) - 1) * 1.0 / (b + c) > 3.841459
               AS significant
    FROM cells
    """,
)
def agg_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (1947, public) with continuity correction: do two
    classifiers disagree in a systematically one-sided way on the SAME
    rows? Here two heuristic return-predictors (discount >= 5% vs
    quantity >= 25) are compared on their discordant pairs b and c with
    chi2 = (|b-c|-1)²/(b+c) — the PAIRED model-comparison test the
    registry's two-sample family (Welch, Mann-Whitney) cannot replace,
    because paired designs remove between-row variance.

    Determinism: the 2x2 discordance cells are exact integer counts;
    the statistic is one fixed double formula rounded 6dp; the verdict
    compares against the literal chi2(1) 95th percentile.

    Scale shape: one projection + one 4-counter global aggregate —
    map-side combined, nothing else."""
    preds = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("rule_a"),
        F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("rule_b"),
    )
    cells = preds.agg(
        F.sum(F.when((F.col("rule_a") == F.col("y")) & (F.col("rule_b") != F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("rule_a") != F.col("y")) & (F.col("rule_b") == F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("rule_a") == F.col("y")) & (F.col("rule_b") == F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("both_right"),
        F.sum(F.when((F.col("rule_a") != F.col("y")) & (F.col("rule_b") != F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("both_wrong"),
    )
    stat = (
        (F.abs(F.col("b") - F.col("c")) - 1)
        * (F.abs(F.col("b") - F.col("c")) - 1)
        / (F.col("b") + F.col("c"))
    )
    return cells.select(
        "b",
        "c",
        "both_right",
        "both_wrong",
        F.round(stat, 6).alias("mcnemar_chi2"),
        (stat > 3.841459).alias("significant"),
    )


@query(
    "events_mttr_mtbf",
    oracle="""
    WITH err_min AS (
        SELECT DISTINCT DATE_TRUNC('minute', ts) AS m
        FROM events WHERE event_type = 'error'
    ),
    flagged AS (
        SELECT m,
               CASE WHEN EPOCH(m) - EPOCH(LAG(m) OVER (ORDER BY m)) > 300
                         OR LAG(m) OVER (ORDER BY m) IS NULL
                    THEN 1 ELSE 0 END AS new_incident
        FROM err_min
    ),
    grouped AS (
        SELECT m, SUM(new_incident) OVER (ORDER BY m
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS incident_id
        FROM flagged
    ),
    incidents AS (
        SELECT incident_id, MIN(m) AS t_start, MAX(m) AS t_end,
               EPOCH(MAX(m)) - EPOCH(MIN(m)) + 60 AS duration_s
        FROM grouped GROUP BY incident_id
    ),
    gaps AS (
        SELECT EPOCH(t_start) - EPOCH(LAG(t_start) OVER (ORDER BY t_start))
                   AS tbf_s
        FROM incidents
    )
    SELECT CAST((SELECT COUNT(*) FROM incidents) AS BIGINT) AS n_incidents,
           CAST((SELECT SUM(duration_s) FROM incidents) AS BIGINT)
               AS total_downtime_s,
           ROUND((SELECT SUM(duration_s) * 1.0 / COUNT(*) FROM incidents), 4)
               AS mttr_s,
           ROUND(SUM(tbf_s) * 1.0 / COUNT(tbf_s), 4) AS mtbf_s
    FROM gaps
    """,
)
def events_mttr_mtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTTR / MTBF reliability metrics (classic dependability KPIs,
    public): error events collapse to minutes, minutes within 5 min of
    each other merge into INCIDENTS (gaps-and-islands via the running
    sum of new-incident flags), and the report gives incident count,
    total downtime, mean time to recovery (mean incident duration, with
    each minute bucket counting a full 60 s) and mean time between
    failures (mean start-to-start gap) — the on-call dashboard pair on
    top of events_outage_gaps.

    Determinism: minute buckets, island ids, durations and gaps are
    exact integers; the two means are single divisions rounded 4dp.

    Scale shape: distinct-minutes is one shuffle; islands need one
    ordered window over the (tiny) minute series — per-service
    partitioning at 100 TB; incident rollup is a keyed groupBy."""
    err_min = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(F.date_trunc("minute", "ts").alias("m"))
        .distinct()
    )
    w = Window.orderBy("m")
    flagged = err_min.select(
        "m",
        F.when(
            (F.unix_timestamp("m") - F.unix_timestamp(F.lag("m").over(w)) > 300)
            | F.lag("m").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_incident"),
    )
    grouped = flagged.select(
        "m",
        F.sum("new_incident").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("incident_id"),
    )
    incidents = grouped.groupBy("incident_id").agg(
        F.min("m").alias("t_start"),
        (F.unix_timestamp(F.max("m")) - F.unix_timestamp(F.min("m")) + 60).alias("duration_s"),
    )
    inc_stats = incidents.agg(
        F.count("*").cast("long").alias("n_incidents"),
        F.sum("duration_s").cast("long").alias("total_downtime_s"),
        F.round(F.sum("duration_s") / F.count("*"), 4).alias("mttr_s"),
    )
    wg = Window.orderBy("t_start")
    gaps = incidents.select(
        (F.unix_timestamp("t_start") - F.unix_timestamp(F.lag("t_start").over(wg))).alias("tbf_s")
    )
    mtbf = gaps.agg(F.round(F.sum("tbf_s") / F.count("tbf_s"), 4).alias("mtbf_s"))
    return inc_stats.crossJoin(F.broadcast(mtbf)).select(
        "n_incidents", "total_downtime_s", "mttr_s", "mtbf_s"
    )
