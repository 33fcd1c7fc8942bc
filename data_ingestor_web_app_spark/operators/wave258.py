"""Wave-258: omnibus nonparametrics — the Wald-Wolfowitz two-sample
runs test (sensitive to ANY distributional difference, not just
location/scale) and Hoeffding's D measure of general bivariate
dependence (catches what correlation can't: non-monotone association).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_ww_runs_two_sample",
    oracle="""
    WITH tagged AS (
        SELECT value, event_id,
               (event_type = 'view')::INT AS lbl
        FROM events WHERE event_type IN ('view', 'click')
    ),
    ordered AS (
        SELECT lbl,
               LAG(lbl) OVER (ORDER BY value, lbl, event_id) AS prev
        FROM tagged
    ),
    runs AS (
        SELECT CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND lbl <> prev
                                 THEN 1 ELSE 0 END) AS BIGINT) AS r,
               CAST(SUM(lbl) AS BIGINT) AS n1,
               CAST(SUM(1 - lbl) AS BIGINT) AS n2,
               CAST(COUNT(*) AS BIGINT) AS nn
        FROM ordered
    )
    SELECT r AS n_runs, n1, n2,
           ROUND(1 + 2.0 * n1 * n2 / nn, 6) AS e_runs,
           ROUND((r - (1 + 2.0 * n1 * n2 / nn))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - nn)
                        / (CAST(nn AS DOUBLE) * nn * (nn - 1))), 6) AS z,
           (r - (1 + 2.0 * n1 * n2 / nn))
           / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - nn)
                  / (CAST(nn AS DOUBLE) * nn * (nn - 1))) < -1.644854
               AS distributions_differ
    FROM runs
    """,
)
def events_ww_runs_two_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wald-Wolfowitz two-sample runs test (Wald & Wolfowitz, AMS 1940,
    public): pool the 'view' and 'click' values, sort, and count label
    RUNS — too few runs means the samples separate somewhere along the
    line, an omnibus alternative sensitive to ANY difference (location,
    scale, or shape), one-sided by construction (z < -1.644854
    rejects). Cross-sample value ties are broken deterministically
    (label, then event id — stated convention; the classic test assumes
    continuity). E[R] = 1 + 2*n1*n2/N, Var from the 1940 paper.

    Exactness device: the run count is an integer LAG comparison over
    a totally ordered window; moments are exact rational chains.

    Scale shape (r8 rework, VERDICT r7 item 4): the (value, lbl, id)
    sort puts each tied value's click rows before its view rows, so a
    distinct-VALUE block contributes at most one internal transition
    (both labels present) plus one boundary transition against the
    previous block's last label — runs collapse to the distinct-value
    frame (global lag over an Aggregate, never raw rows), and the
    count is the identical integer either way."""
    tagged = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click"))
        .select(
            "value",
            (F.col("event_type") == "view").cast("int").alias("lbl"),
        )
    )
    blocks = tagged.groupBy("value").agg(
        F.sum(1 - F.col("lbl")).cast("long").alias("a"),  # clicks sort first
        F.sum("lbl").cast("long").alias("b"),
    )
    first_lbl = F.when(F.col("a") > 0, 0).otherwise(1)
    last_lbl = F.when(F.col("b") > 0, 1).otherwise(0)
    wv = Window.orderBy("value")
    seq = blocks.select(
        "a",
        "b",
        F.when((F.col("a") > 0) & (F.col("b") > 0), 1)
        .otherwise(0)
        .alias("internal"),
        first_lbl.alias("fl"),
        F.lag(last_lbl).over(wv).alias("prev_last"),
    )
    runs = seq.agg(
        (
            1
            + F.sum("internal")
            + F.sum(
                F.when(
                    F.col("prev_last").isNotNull()
                    & (F.col("fl") != F.col("prev_last")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
        F.sum("b").cast("long").alias("n1"),
        F.sum("a").cast("long").alias("n2"),
        F.sum(F.col("a") + F.col("b")).cast("long").alias("nn"),
    )
    e_r = 1 + 2.0 * F.col("n1") * F.col("n2") / F.col("nn")
    var = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("nn"))
        / (F.col("nn").cast("double") * F.col("nn") * (F.col("nn") - 1))
    )
    z = (F.col("r") - e_r) / F.sqrt(var)
    return runs.select(
        F.col("r").alias("n_runs"),
        "n1",
        "n2",
        F.round(e_r, 6).alias("e_runs"),
        F.round(z, 6).alias("z"),
        (z < -1.644854).alias("distributions_differ"),
    )


@query(
    "agg_hoeffding_d",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               AVG(value) AS x,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT day, x, y,
               RANK() OVER (ORDER BY x) + (COUNT(*) OVER (PARTITION BY x)
                                           - 1) / 2.0 AS r,
               RANK() OVER (ORDER BY y) + (COUNT(*) OVER (PARTITION BY y)
                                           - 1) / 2.0 AS s
        FROM daily
    ),
    q AS (
        SELECT a.day, a.r, a.s,
               1 + SUM(CASE WHEN b.x < a.x AND b.y < a.y THEN 1.0
                            WHEN b.x = a.x AND b.y = a.y THEN 0.25
                            WHEN b.x = a.x AND b.y < a.y THEN 0.5
                            WHEN b.x < a.x AND b.y = a.y THEN 0.5
                            ELSE 0.0 END) AS qi,
               ANY_VALUE(nn) AS nn
        FROM ranked a
        CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM daily)
        JOIN ranked b ON b.day <> a.day
        GROUP BY a.day, a.r, a.s
    ),
    sums AS (
        SELECT ANY_VALUE(nn) AS n,
               SUM(qi * (qi - 1)) AS d1,
               SUM((r - 1) * (r - 2) * (s - 1) * (s - 2)) AS d2,
               SUM((r - 2) * (s - 2) * qi) AS d3
        FROM q
    )
    SELECT n AS n_days,
           ROUND(30.0 * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3)
                 / (CAST(n AS DOUBLE) * (n - 1) * (n - 2) * (n - 3)
                    * (n - 4)), 6) AS hoeffding_d
    FROM sums
    """,
)
def agg_hoeffding_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoeffding's D test of general bivariate dependence (Hoeffding,
    AMS 1948, public; the SAS PROC CORR HOEFFDING formulation with
    quarter/half tie weights) between the daily mean event value and
    the daily event count: D = 30*((n-2)(n-3)D1 + D2 - 2(n-2)D3) /
    (n(n-1)...(n-4)) from midranks R, S and the bivariate dominance
    counts Q_i. Unlike Pearson/Spearman/Kendall (agg_corr_covar,
    agg_spearman_rho, agg_kendall_tau), D detects NON-MONOTONE
    dependence — a U-shaped value-volume relation scores zero on all
    three but not on D.

    Exactness device: Q_i dominance counts are exact quarter-integer
    sums over the bounded daily frame's self-join; midranks are
    rational; one rounded output chain.

    Scale shape: the fact scan folds to ~30 daily rows FIRST — the
    O(n^2) dominance join runs on aggregates, never on facts (the same
    aggregate-then-pair discipline as agg_mann_kendall)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.avg("value").alias("x"),
            F.count("*").cast("double").alias("y"),
        )
    )
    wx = Window.orderBy("x")
    wy = Window.orderBy("y")
    ranked = daily.select(
        "day",
        "x",
        "y",
        (
            F.rank().over(wx)
            + (F.count("*").over(Window.partitionBy("x")) - 1) / 2.0
        ).alias("r"),
        (
            F.rank().over(wy)
            + (F.count("*").over(Window.partitionBy("y")) - 1) / 2.0
        ).alias("s"),
    )
    nn = daily.agg(F.count("*").cast("long").alias("nn"))
    a = ranked.select(
        F.col("day").alias("da"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        "r",
        "s",
    )
    b = ranked.select(
        F.col("day").alias("db"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    q = (
        a.join(b, F.col("db") != F.col("da"))
        .crossJoin(F.broadcast(nn))
        .groupBy("da", "r", "s")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.col("xb") < F.col("xa"))
                        & (F.col("yb") < F.col("ya")),
                        1.0,
                    )
                    .when(
                        (F.col("xb") == F.col("xa"))
                        & (F.col("yb") == F.col("ya")),
                        0.25,
                    )
                    .when(
                        (F.col("xb") == F.col("xa"))
                        & (F.col("yb") < F.col("ya")),
                        0.5,
                    )
                    .when(
                        (F.col("xb") < F.col("xa"))
                        & (F.col("yb") == F.col("ya")),
                        0.5,
                    )
                    .otherwise(0.0)
                )
            ).alias("qi"),
            F.first("nn").alias("nn"),
        )
    )
    sums = q.agg(
        F.first("nn").alias("n"),
        F.sum(F.col("qi") * (F.col("qi") - 1)).alias("d1"),
        F.sum(
            (F.col("r") - 1)
            * (F.col("r") - 2)
            * (F.col("s") - 1)
            * (F.col("s") - 2)
        ).alias("d2"),
        F.sum((F.col("r") - 2) * (F.col("s") - 2) * F.col("qi")).alias("d3"),
    )
    n = F.col("n")
    d = (
        30.0
        * ((n - 2) * (n - 3) * F.col("d1") + F.col("d2") - 2 * (n - 2) * F.col("d3"))
        / (n.cast("double") * (n - 1) * (n - 2) * (n - 3) * (n - 4))
    )
    return sums.select(
        n.alias("n_days"), F.round(d, 6).alias("hoeffding_d")
    )
