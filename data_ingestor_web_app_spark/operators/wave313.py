"""Wave-313: recurrence quantification (RR, DET) and the Poincaré plot
descriptors SD1/SD2 on the daily series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DAILY_SQL = """
    daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, x FROM daily
    )
"""


@query(
    "events_recurrence_quantification",
    oracle=f"""
    WITH {_DAILY_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               SUM(CAST(x AS HUGEINT) * x) AS s2
        FROM idx
    ),
    eps AS (
        SELECT n,
               0.2 * SQRT(CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n)) AS e
        FROM mom
    ),
    rec AS (
        SELECT a.i AS ia, b.i AS ib
        FROM idx a CROSS JOIN idx b CROSS JOIN eps
        WHERE a.i <> b.i AND ABS(a.x - b.x) < eps.e
    ),
    det AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rec,
               CAST(SUM(CASE WHEN EXISTS (
                        SELECT 1 FROM rec r2
                        WHERE r2.ia = rec.ia + 1 AND r2.ib = rec.ib + 1)
                      OR EXISTS (
                        SELECT 1 FROM rec r3
                        WHERE r3.ia = rec.ia - 1 AND r3.ib = rec.ib - 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_diag
        FROM rec
    )
    SELECT e.n AS n_days,
           ROUND(e.e, 6) AS epsilon,
           d.n_rec AS n_recurrent_pairs,
           ROUND(CAST(d.n_rec AS DOUBLE) / (CAST(e.n AS DOUBLE) * (e.n - 1)),
                 6) AS recurrence_rate,
           ROUND(CAST(d.n_diag AS DOUBLE) / d.n_rec, 6) AS determinism
    FROM eps e CROSS JOIN det d
    """,
)
def events_recurrence_quantification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurrence quantification analysis (Eckmann, Kamphorst & Ruelle
    1987; RR/DET per Zbilut & Webber, Phys. Lett. A 1992 — public) of
    the daily volume series: two days RECUR when their volumes sit
    within eps = 0.2·sigma (the standard threshold convention);
    RR = recurrent pairs / n(n-1) is how often the system revisits a
    state, and DET = the fraction of recurrent points lying on
    diagonal line segments (length >= 2) separates deterministic
    revisits (high DET — the trajectory RETRACES) from incidental
    value collisions (low DET). The nonlinear-dynamics view the
    spectral/ACF rows can't give: a chaotic series can be flat in the
    correlogram yet highly deterministic here.

    Determinism: daily counts exact; sigma from exact power sums; the
    eps comparison and diagonal-neighbor tests are identical integer/
    double chains in both engines; two rounded ratios.

    Scale shape: daily collapse first; the recurrence set is a
    calendar² pair join and the diagonal test two self-joins of that
    set — all bounded by days, never corpus rows."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"), "x"
    )
    mom = idx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    eps = mom.select(
        "n",
        (0.2 * F.sqrt(F.col("s2").cast("double") / F.col("n") - mean * mean)).alias(
            "e"
        ),
    )
    a = idx.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    rec = (
        a.crossJoin(b)
        .crossJoin(F.broadcast(eps))
        .where(
            (F.col("ia") != F.col("ib"))
            & (F.abs(F.col("xa") - F.col("xb")) < F.col("e"))
        )
        .select("ia", "ib")
        .cache()  # calendar^2-bounded; read three times below
    )
    up = rec.select(
        (F.col("ia") - 1).alias("ia"), (F.col("ib") - 1).alias("ib"), F.lit(1).alias("u")
    )
    dn = rec.select(
        (F.col("ia") + 1).alias("ia"), (F.col("ib") + 1).alias("ib"), F.lit(1).alias("d")
    )
    marked = (
        rec.join(up.distinct(), ["ia", "ib"], "left")
        .join(dn.distinct(), ["ia", "ib"], "left")
        .select(
            (F.col("u").isNotNull() | F.col("d").isNotNull()).alias("on_diag")
        )
    )
    det = marked.agg(
        F.count("*").cast("long").alias("n_rec"),
        F.sum(F.when(F.col("on_diag"), 1).otherwise(0))
        .cast("long")
        .alias("n_diag"),
    )
    return eps.crossJoin(F.broadcast(det)).select(
        F.col("n").alias("n_days"),
        F.round("e", 6).alias("epsilon"),
        F.col("n_rec").alias("n_recurrent_pairs"),
        F.round(
            F.col("n_rec").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            6,
        ).alias("recurrence_rate"),
        F.round(F.col("n_diag").cast("double") / F.col("n_rec"), 6).alias(
            "determinism"
        ),
    )


@query(
    "events_poincare_sd",
    oracle=f"""
    WITH {_DAILY_SQL},
    pairs AS (
        SELECT x, LEAD(x) OVER (ORDER BY i) AS nx FROM idx
    ),
    p AS (SELECT x, nx FROM pairs WHERE nx IS NOT NULL),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               VAR_POP((nx - x) / SQRT(2.0)) AS v1,
               VAR_POP((nx + x) / SQRT(2.0)) AS v2
        FROM p
    )
    SELECT n AS n_pairs,
           ROUND(SQRT(v1), 6) AS sd1,
           ROUND(SQRT(v2), 6) AS sd2,
           ROUND(SQRT(v1) / SQRT(v2), 6) AS sd1_sd2_ratio,
           ROUND(PI() * SQRT(v1) * SQRT(v2), 4) AS ellipse_area
    FROM mom
    """,
)
def events_poincare_sd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poincaré plot descriptors (Brennan, Palaniswami & Kamen, IEEE
    TBME 2001 — the standard HRV geometry, public) of the daily volume
    series: scatter x_{{t+1}} against x_t, then SD1 = the dispersion
    PERPENDICULAR to the identity line (= sqrt Var((x_{{t+1}}-x_t)/√2),
    short-term variability) and SD2 = the dispersion ALONG it
    (long-term variability), with the SD1/SD2 ratio and the fitted
    ellipse area pi·SD1·SD2. The geometric twin of the lag-1 ACF
    (SD1²/SD2² = (1-r1)/(1+r1) for stationary series) that reads
    variability STRUCTURE off two numbers.

    Determinism: daily counts exact; the rotated coordinates are one
    fixed chain; VAR_POP over the calendar frame; ROUND 6/4.

    Scale shape: daily collapse; one lead window over the calendar
    frame; a single moment aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = Window.orderBy("day")
    p = daily.select(
        "x", F.lead("x").over(w).alias("nx")
    ).where(F.col("nx").isNotNull())
    rt2 = F.sqrt(F.lit(2.0))
    mom = p.agg(
        F.count("*").cast("long").alias("n"),
        F.var_pop((F.col("nx") - F.col("x")) / rt2).alias("v1"),
        F.var_pop((F.col("nx") + F.col("x")) / rt2).alias("v2"),
    )
    import math

    return mom.select(
        F.col("n").alias("n_pairs"),
        F.round(F.sqrt("v1"), 6).alias("sd1"),
        F.round(F.sqrt("v2"), 6).alias("sd2"),
        F.round(F.sqrt("v1") / F.sqrt("v2"), 6).alias("sd1_sd2_ratio"),
        F.round(math.pi * F.sqrt("v1") * F.sqrt("v2"), 4).alias("ellipse_area"),
    )
