"""Wave-228: Poisson rate-ratio test (week-over-week traffic change)
and the Hosmer-Lemeshow grouped calibration test.

The rate-ratio test is the "did volume actually change" primitive: two
Poisson counts compared via the exact conditional-binomial device (given
the total, week-2's count is binomial with p = t2/(t1+t2)) plus the
Wald CI on the log rate ratio. Hosmer-Lemeshow is the classic grouped
calibration chi-square — where model_calibration_ece reports a single
weighted gap, HL tests whether the per-group gaps are jointly
explainable by chance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_Z95 = 1.959963984540054
_G = 7  # HL groups: one per day-of-week score level


@query(
    "events_rate_ratio_test",
    oracle=f"""
    WITH weeks AS (
        SELECT CAST(SUM(CASE WHEN DATEDIFF('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) < 7 THEN 1 ELSE 0
                        END) AS BIGINT) AS x1,
               CAST(SUM(CASE WHEN DATEDIFF('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) >= 7
                              AND DATEDIFF('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) < 14 THEN 1 ELSE 0
                        END) AS BIGINT) AS x2
        FROM events
    )
    SELECT x1 AS week1_events, x2 AS week2_events,
           ROUND(CAST(x2 AS DOUBLE) / x1, 6) AS rate_ratio,
           ROUND(EXP(LN(CAST(x2 AS DOUBLE) / x1)
                     - {_Z95} * SQRT(1.0e0 / x1 + 1.0e0 / x2)), 6)
               AS ci_lo,
           ROUND(EXP(LN(CAST(x2 AS DOUBLE) / x1)
                     + {_Z95} * SQRT(1.0e0 / x1 + 1.0e0 / x2)), 6)
               AS ci_hi,
           -- conditional-binomial z with continuity correction:
           -- under H0, x2 | (x1+x2) ~ Bin(n, 1/2)
           ROUND((ABS(x2 - (x1 + x2) / 2.0e0) - 0.5e0)
                 / SQRT((x1 + x2) / 4.0e0), 6) AS z_stat,
           (ABS(x2 - (x1 + x2) / 2.0e0) - 0.5e0)
               / SQRT((x1 + x2) / 4.0e0) > {_Z95} AS significant_5pct
    FROM weeks
    """,
)
def events_rate_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-ratio test between week 1 and week 2 event volumes
    (equal exposure): the rate ratio with its Wald log-scale 95% CI,
    and the conditional-binomial z — under H0 the week-2 count given
    the total is Binomial(n, 1/2), so the test needs no variance
    estimate at all. The statistically honest version of the
    week-over-week delta every traffic dashboard shows as a bare
    percentage.

    Determinism: both counts are exact integers; the CI composes
    ln/exp/sqrt on identical inputs; the z is a closed-form double.

    Scale shape: one conditional-count aggregate — a single reduce."""
    events = table(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
    weeks = events.agg(
        F.sum(F.when(d < 7, 1).otherwise(0)).cast("long").alias("x1"),
        F.sum(F.when((d >= 7) & (d < 14), 1).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    rr = F.col("x2").cast("double") / F.col("x1")
    hw = F.lit(_Z95) * F.sqrt(
        F.lit(1.0) / F.col("x1") + F.lit(1.0) / F.col("x2")
    )
    ntot = F.col("x1") + F.col("x2")
    z = (F.abs(F.col("x2") - ntot / 2.0) - 0.5) / F.sqrt(ntot / 4.0)
    return weeks.select(
        F.col("x1").alias("week1_events"),
        F.col("x2").alias("week2_events"),
        F.round(rr, 6).alias("rate_ratio"),
        F.round(F.exp(F.log(rr) - hw), 6).alias("ci_lo"),
        F.round(F.exp(F.log(rr) + hw), 6).alias("ci_hi"),
        F.round(z, 6).alias("z_stat"),
        (z > _Z95).alias("significant_5pct"),
    )


@query(
    "model_hosmer_lemeshow",
    oracle="""
    WITH scored AS (
        -- 'model': per-dow purchase rate fitted on week 1, evaluated on
        -- the rest — a genuine train/test split so HL tests CALIBRATION
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
               CASE WHEN DATEDIFF('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) < 7
                    THEN 1 ELSE 0 END AS train,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    model AS (
        SELECT dow,
               SUM(CASE WHEN train = 1 THEN y ELSE 0 END)
                 / CAST(SUM(train) AS DOUBLE) AS p
        FROM scored GROUP BY dow
    ),
    test AS (
        SELECT s.dow, m.p,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(s.y) AS BIGINT) AS obs
        FROM scored s JOIN model m ON m.dow = s.dow
        WHERE s.train = 0
        GROUP BY s.dow, m.p
    ),
    hl AS (
        SELECT LIST_REDUCE(
                   LIST((obs - n * p) * (obs - n * p)
                        / (n * p * (1 - p)) ORDER BY dow),
                   (x, y) -> x + y) AS h,
               CAST(COUNT(*) AS BIGINT) AS g,
               CAST(SUM(n) AS BIGINT) AS n_test
        FROM test
    )
    SELECT g AS n_groups, n_test,
           ROUND(h, 6) AS hl_stat,
           CAST(g - 2 AS BIGINT) AS dof,
           h > 11.070497693516351e0 AS miscalibrated_5pct
    FROM hl
    """,
)
def model_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow calibration test of the per-day-of-week purchase
    model: rates fitted on WEEK 1 only, then each dow group's observed
    vs expected purchases in the held-out weeks contribute
    (O - np)^2 / (np(1-p)); H ~ chi2(g-2) under good calibration (the
    5% critical value for g=7 is 11.07). model_calibration_ece averages
    the same gaps into one number; HL says whether they are jointly
    LARGER than chance — the accept/reject companion.

    Determinism: observed counts are exact integers; fitted rates are
    exact count ratios; the g-term fold runs in dow order.

    Scale shape: two groupBy(dow) passes (train rates, test gaps) —
    map-side combinable; the fold is 7 rows."""
    events = table(spark, sf_dir, "events")
    scored = events.select(
        F.dayofweek(F.to_date("ts")).cast("long").alias("dow"),
        F.when(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            < 7,
            1,
        )
        .otherwise(0)
        .alias("train"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "y"
        ),
    )
    model = scored.groupBy("dow").agg(
        (
            F.sum(F.when(F.col("train") == 1, F.col("y")).otherwise(0))
            / F.sum("train").cast("double")
        ).alias("p")
    )
    test = (
        scored.where("train = 0")
        .join(F.broadcast(model), "dow")
        .groupBy("dow", "p")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("obs"),
        )
    )
    hl = test.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "dow",
                            (
                                (F.col("obs") - F.col("n") * F.col("p"))
                                * (F.col("obs") - F.col("n") * F.col("p"))
                                / (F.col("n") * F.col("p") * (1 - F.col("p")))
                            ).alias("t"),
                        )
                    )
                ),
                lambda s: s.t,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("h"),
        F.count("*").cast("long").alias("g"),
        F.sum("n").cast("long").alias("n_test"),
    )
    return hl.select(
        F.col("g").alias("n_groups"),
        "n_test",
        F.round("h", 6).alias("hl_stat"),
        (F.col("g") - 2).cast("long").alias("dof"),
        (F.col("h") > 11.070497693516351).alias("miscalibrated_5pct"),
    )
