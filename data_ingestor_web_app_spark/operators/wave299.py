"""Wave-299: Blomqvist's medial correlation and the turning-point test of
randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_MED_SEL = """
    SELECT MIN(CASE WHEN below < (n + 1) // 2 AND (n + 1) // 2 <= upto
                    THEN v END) AS med
    FROM (SELECT v, SUM(k) OVER (ORDER BY v) - k AS below,
                 SUM(k) OVER (ORDER BY v) AS upto,
                 SUM(k) OVER () AS n
          FROM (SELECT {col} AS v, CAST(COUNT(*) AS BIGINT) AS k
                FROM lineitem GROUP BY 1))
"""


@query(
    "agg_blomqvist_beta",
    oracle=f"""
    WITH mx AS ({_MED_SEL.format(col="CAST(l_quantity AS BIGINT)")}),
    my AS ({_MED_SEL.format(col="CAST(ROUND(l_extendedprice * 100) AS BIGINT)")}),
    q AS (
        SELECT CAST(SUM(CASE WHEN (CAST(l_quantity AS BIGINT) > mx.med)
                              = (CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                                 > my.med)
                             THEN 1 ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN (CAST(l_quantity AS BIGINT) > mx.med)
                              <> (CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                                  > my.med)
                             THEN 1 ELSE 0 END) AS BIGINT) AS disc
        FROM lineitem CROSS JOIN mx CROSS JOIN my
        WHERE CAST(l_quantity AS BIGINT) <> mx.med
          AND CAST(ROUND(l_extendedprice * 100) AS BIGINT) <> my.med
    )
    SELECT conc AS n_concordant, disc AS n_discordant,
           ROUND(CAST(conc - disc AS DOUBLE) / (conc + disc), 6)
               AS blomqvist_beta,
           ROUND(CAST(conc - disc AS DOUBLE) / (conc + disc)
                 * SQRT(CAST(conc + disc AS DOUBLE)), 6) AS z_beta,
           ABS(CAST(conc - disc AS DOUBLE) / (conc + disc)
               * SQRT(CAST(conc + disc AS DOUBLE))) > 1.959964 AS dependent
    FROM q
    """,
)
def agg_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blomqvist's beta / medial correlation (Blomqvist, Ann. Math.
    Stat. 1950, public): split the (quantity, price) plane at the two
    MEDIANS and count concordant vs discordant quadrants — beta =
    (n1 - n2)/(n1 + n2), the coarsest-but-most-robust member of the
    correlation family (Pearson uses values, Spearman ranks, Kendall
    pairs, Blomqvist just median sides; one glance at the quadrant
    table). Points lying ON either median are dropped per the 1950
    convention; z = beta·sqrt(m) against the N(0,1) 5% gate.

    Determinism: both medians are rank-selected order statistics from
    distinct-value cumulative counts (exact integers); quadrant counts
    are integers; two rounded chains; the flag compares unrounded.

    Scale shape: two distinct-value collapses for the medians (windows
    over Aggregates), one broadcast-medians scan for the quadrant
    counts — no corpus-sized window, no pair join."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )

    def median_of(col: str):
        vals = li.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("long").alias("k")
        )
        wv = Window.orderBy("v")
        cum = vals.select(
            "v",
            (F.sum("k").over(wv) - F.col("k")).alias("below"),
            F.sum("k").over(wv).alias("upto"),
            F.sum("k").over(Window.partitionBy()).alias("n"),
        )
        r = F.expr("(n + 1) div 2")
        return cum.agg(
            F.min(
                F.when((F.col("below") < r) & (r <= F.col("upto")), F.col("v"))
            ).alias("med")
        )

    mx = median_of("x").select(F.col("med").alias("med_x"))
    my = median_of("y").select(F.col("med").alias("med_y"))
    q = (
        li.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(my))
        .where((F.col("x") != F.col("med_x")) & (F.col("y") != F.col("med_y")))
        .agg(
            F.sum(
                F.when(
                    (F.col("x") > F.col("med_x")) == (F.col("y") > F.col("med_y")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("conc"),
            F.sum(
                F.when(
                    (F.col("x") > F.col("med_x")) != (F.col("y") > F.col("med_y")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("disc"),
        )
    )
    beta = (F.col("conc") - F.col("disc")).cast("double") / (
        F.col("conc") + F.col("disc")
    )
    z = beta * F.sqrt((F.col("conc") + F.col("disc")).cast("double"))
    return q.select(
        F.col("conc").alias("n_concordant"),
        F.col("disc").alias("n_discordant"),
        F.round(beta, 6).alias("blomqvist_beta"),
        F.round(z, 6).alias("z_beta"),
        (F.abs(z) > 1.959964).alias("dependent"),
    )


@query(
    "events_turning_points",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    lagged AS (
        SELECT x,
               LAG(x) OVER (ORDER BY day) AS prev,
               LEAD(x) OVER (ORDER BY day) AS nxt
        FROM daily
    ),
    t AS (
        SELECT CAST(SUM(CASE WHEN (prev < x AND x > nxt)
                               OR (prev > x AND x < nxt)
                             THEN 1 ELSE 0 END) AS BIGINT) AS turns,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lagged WHERE prev IS NOT NULL AND nxt IS NOT NULL
    ),
    s AS (SELECT turns, n + 2 AS n FROM t)
    SELECT CAST(n AS BIGINT) AS n_days, turns AS n_turning_points,
           ROUND(2.0 * (n - 2) / 3, 6) AS expected_turns,
           ROUND((turns - 2.0 * (n - 2) / 3)
                 / SQRT((16.0 * n - 29) / 90), 6) AS z_turns,
           ABS((turns - 2.0 * (n - 2) / 3)
               / SQRT((16.0 * n - 29) / 90)) > 1.959964 AS nonrandom
    FROM s
    """,
)
def events_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test of randomness (Kendall & Stuart; Bienaymé
    1874 origin — public) on the daily volume series: count strict
    local extrema; under i.i.d. randomness E[T] = 2(n-2)/3 and
    Var[T] = (16n-29)/90, so z = (T - E)/sqrt(Var) flags serial
    structure — too FEW turning points means trend/momentum, too MANY
    means alternating over-correction. The lag-free cousin of the
    runs-above-median and Ljung-Box rows: no median, no correlogram,
    just the count of wiggles.

    Determinism: daily counts are exact integers; strict comparisons
    only (ties produce no turning point, the textbook convention);
    one rounded chain; the flag compares unrounded.

    Scale shape: daily collapse first; the lag/lead window runs over
    the calendar-bounded Aggregate frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "x",
        F.lag("x").over(w).alias("prev"),
        F.lead("x").over(w).alias("nxt"),
    ).where(F.col("prev").isNotNull() & F.col("nxt").isNotNull())
    t = lagged.agg(
        F.sum(
            F.when(
                ((F.col("prev") < F.col("x")) & (F.col("x") > F.col("nxt")))
                | ((F.col("prev") > F.col("x")) & (F.col("x") < F.col("nxt"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("turns"),
        (F.count("*") + 2).cast("long").alias("n"),
    )
    e = 2.0 * (F.col("n") - 2) / 3
    z = (F.col("turns") - e) / F.sqrt((16.0 * F.col("n") - 29) / 90)
    return t.select(
        F.col("n").alias("n_days"),
        F.col("turns").alias("n_turning_points"),
        F.round(e, 6).alias("expected_turns"),
        F.round(z, 6).alias("z_turns"),
        (F.abs(z) > 1.959964).alias("nonrandom"),
    )
