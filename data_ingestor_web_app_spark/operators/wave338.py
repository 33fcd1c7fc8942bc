"""Wave-338: the standardized effect-size shelf (Cohen 1969; Hedges
1981; Glass 1976; McGraw & Wong's CLES 1992), an abridged actuarial
life table (Graunt 1662 lineage; standard demographic qx/lx/ex
columns), and the natural visibility graph (Lacasa et al., PNAS 2008)
of the daily series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_ERFC_POS = (
    "((1.0 / (1.0 + 0.3275911 * ({z}))) * (0.254829592 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (-0.284496736 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (1.421413741 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (-1.453152027 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * 1.061405429)))) "
    "* EXP(-({z}) * ({z})))"
)


def _phi_sql(x: str) -> str:
    za = f"(ABS({x}) / SQRT(2.0))"
    half = f"(0.5 * {_ERFC_POS.format(z=za)})"
    return f"(CASE WHEN ({x}) >= 0 THEN 1.0 - {half} ELSE {half} END)"


def _phi_col(x):
    za = F.abs(x) / F.sqrt(F.lit(2.0))
    t = 1.0 / (1.0 + 0.3275911 * za)
    half = 0.5 * (
        t
        * (
            0.254829592
            + t
            * (
                -0.284496736
                + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))
            )
        )
        * F.exp(-za * za)
    )
    return F.when(x >= 0, 1.0 - half).otherwise(half)


@query(
    "agg_cohens_d_effect_sizes",
    oracle=f"""
    WITH u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CAST(ROUND(value * 100) AS BIGINT) AS y
        FROM events
    ),
    arms AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               SUM(CAST(y AS HUGEINT) * y) AS s2
        FROM u GROUP BY g
    ),
    wide AS (
        SELECT SUM(CASE WHEN g=1 THEN n END) AS n1,
               SUM(CASE WHEN g=0 THEN n END) AS n0,
               SUM(CASE WHEN g=1 THEN CAST(s AS DOUBLE)/n/100 END) AS m1,
               SUM(CASE WHEN g=0 THEN CAST(s AS DOUBLE)/n/100 END) AS m0,
               SUM(CASE WHEN g=1 THEN
                   (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)*s/n) / 1e4 END)
                   AS ss1,
               SUM(CASE WHEN g=0 THEN
                   (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)*s/n) / 1e4 END)
                   AS ss0
        FROM arms
    ),
    eff AS (
        SELECT CAST(n1 + n0 AS BIGINT) AS n_obs,
               (m1 - m0) / SQRT((ss1 + ss0) / (n1 + n0 - 2)) AS d,
               1.0 - 3.0 / (4.0 * (n1 + n0 - 2) - 1.0) AS j,
               (m1 - m0) / SQRT(ss0 / (n0 - 1)) AS glass
        FROM wide
    )
    SELECT n_obs,
           ROUND(d, 6) AS cohens_d,
           ROUND(j * d, 6) AS hedges_g,
           ROUND(glass, 6) AS glass_delta,
           ROUND({_phi_sql("d / SQRT(2.0)")}, 6) AS cles
    FROM eff
    """,
)
def agg_cohens_d_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standardized-mean-difference shelf for weekend vs weekday
    value: Cohen's d on the pooled SD (1969), Hedges' g with the small-
    sample correction J = 1 − 3/(4·df − 1) (1981), Glass's Δ on the
    control SD alone (1976), and the common-language effect size
    CLES = Φ(d/√2) (McGraw & Wong 1992) — the probability a random
    weekend value beats a random weekday value under normality. The
    effect-size companions to the registry's Welch t and point-biserial
    rows.

    Determinism: arm moments are exact integer centi-sums; four fixed
    chains rounded 6dp; CLES uses the established A&S erfc polynomial.

    Scale shape: one 2-cell conditional aggregate, then 1-row math."""
    u = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    arms = u.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("s2"),
    )

    def pick(gv, col):
        return F.sum(F.when(F.col("g") == gv, col))

    ssq = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / 1e4
    wide = arms.agg(
        pick(1, F.col("n")).alias("n1"),
        pick(0, F.col("n")).alias("n0"),
        pick(1, F.col("s").cast("double") / F.col("n") / 100).alias("m1"),
        pick(0, F.col("s").cast("double") / F.col("n") / 100).alias("m0"),
        pick(1, ssq).alias("ss1"),
        pick(0, ssq).alias("ss0"),
    )
    d = (F.col("m1") - F.col("m0")) / F.sqrt(
        (F.col("ss1") + F.col("ss0")) / (F.col("n1") + F.col("n0") - 2)
    )
    j = 1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n0") - 2) - 1.0)
    glass = (F.col("m1") - F.col("m0")) / F.sqrt(
        F.col("ss0") / (F.col("n0") - 1)
    )
    return wide.select(
        (F.col("n1") + F.col("n0")).cast("long").alias("n_obs"),
        F.round(d, 6).alias("cohens_d"),
        F.round(j * d, 6).alias("hedges_g"),
        F.round(glass, 6).alias("glass_delta"),
        F.round(_phi_col(d / F.sqrt(F.lit(2.0))), 6).alias("cles"),
    )


@query(
    "events_life_table",
    oracle="""
    WITH life AS (
        SELECT user_id,
               DATEDIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
                   // 6 AS band
        FROM events GROUP BY user_id
    ),
    deaths AS (
        SELECT band, CAST(COUNT(*) AS BIGINT) AS dx FROM life GROUP BY band
    ),
    bands AS (SELECT UNNEST(RANGE(0, 5)) AS band),
    tab AS (
        SELECT b.band, COALESCE(d.dx, 0) AS dx,
               SUM(COALESCE(d.dx, 0))
                   OVER (ORDER BY b.band ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS nx
        FROM bands b LEFT JOIN deaths d ON d.band = b.band
    ),
    q AS (
        SELECT band, dx, CAST(nx AS BIGINT) AS nx,
               CAST(dx AS DOUBLE) / nx AS qx
        FROM tab
    ),
    l AS (
        SELECT band, dx, nx, qx,
               100000.0 * EXP(COALESCE(SUM(
                       CASE WHEN qx >= 1.0 THEN 0.0 ELSE LN(1.0 - qx) END)
                   OVER (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0.0)) AS lx
        FROM q
    ),
    bigl AS (
        SELECT band, dx, nx, qx, lx,
               (lx + COALESCE(LEAD(lx) OVER (ORDER BY band), 0.0)) / 2.0
                   AS llx
        FROM l
    ),
    ex AS (
        SELECT band, dx, nx, qx, lx,
               SUM(llx) OVER (ORDER BY band ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING) / lx AS ex
        FROM bigl
    )
    SELECT CAST(band AS BIGINT) AS band, nx AS n_entering, dx AS deaths,
           ROUND(qx, 6) AS qx,
           ROUND(lx, 2) AS lx,
           ROUND(ex, 6) AS ex_bands
    FROM ex ORDER BY band
    """,
)
def events_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An abridged actuarial life table over user lifetimes (first to
    last event, bucketed into five 6-day bands): deaths dx, exposure
    nx (users entering the band), hazard qx = dx/nx, survivors lx on
    the standard radix 100 000 via the prefix product Π(1−q) =
    exp(Σln(1−q)), person-bands Lx by the trapezoid convention, and
    remaining band-expectancy ex = ΣLx/lx — the Graunt/Halley
    construction every demography and retention team still uses
    (a cohort-retention table IS a life table).

    Determinism: deaths and exposures are exact integers; lx/ex are
    fixed LN/EXP prefix chains over the 5-band frame, rounded.

    Scale shape: one per-user min/max aggregate (shuffle on user_id),
    then all table columns are windows over the 5-row band frame."""
    life = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
                / 6
            )
            .cast("long")
            .alias("band")
        )
    )
    deaths = life.groupBy("band").agg(F.count("*").cast("long").alias("dx"))
    bands = table(spark, sf_dir, "events").sparkSession.range(0, 5).select(
        F.col("id").alias("band")
    )
    wrev = Window.orderBy("band").rowsBetween(0, Window.unboundedFollowing)
    tab = (
        bands.join(deaths, "band", "left")
        .select("band", F.coalesce(F.col("dx"), F.lit(0)).alias("dx"))
        .withColumn("nx", F.sum("dx").over(wrev).cast("long"))
    )
    q = tab.withColumn(
        "qx", F.col("dx").cast("double") / F.col("nx")
    )
    wpre = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    # the terminal band's LN(1-q) = LN(0) is never consumed by any lx
    # (strictly-preceding frame), but both engines must not evaluate it
    ln_term = F.when(F.col("qx") >= 1.0, 0.0).otherwise(
        F.log(1.0 - F.col("qx"))
    )
    l = q.withColumn(
        "lx",
        100000.0
        * F.exp(F.coalesce(F.sum(ln_term).over(wpre), F.lit(0.0))),
    )
    wlead = Window.orderBy("band")
    bigl = l.withColumn(
        "llx",
        (F.col("lx") + F.coalesce(F.lead("lx").over(wlead), F.lit(0.0)))
        / 2.0,
    )
    ex = bigl.withColumn("ex", F.sum("llx").over(wrev) / F.col("lx"))
    return ex.select(
        F.col("band").cast("long").alias("band"),
        F.col("nx").alias("n_entering"),
        F.col("dx").alias("deaths"),
        F.round("qx", 6).alias("qx"),
        F.round("lx", 2).alias("lx"),
        F.round("ex", 6).alias("ex_bands"),
    ).orderBy("band")


@query(
    "events_visibility_graph",
    oracle="""
    WITH daily AS (
        SELECT ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS i,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS m
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    cand AS (
        SELECT a.i AS i, b.i AS j, a.m AS mi, b.m AS mj
        FROM daily a JOIN daily b ON b.i > a.i
    ),
    vis AS (
        SELECT c.i, c.j
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM daily k
            WHERE k.i > c.i AND k.i < c.j
              AND k.m >= c.mi + (c.mj - c.mi)
                          * (k.i - c.i) / CAST(c.j - c.i AS DOUBLE)
        )
    ),
    deg AS (
        SELECT x AS i, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT i AS x FROM vis UNION ALL SELECT j AS x FROM vis
        ) GROUP BY x
    )
    SELECT CAST(d.i AS BIGINT) AS day_idx, d.degree,
           CAST((SELECT COUNT(*) FROM vis) AS BIGINT) AS n_edges,
           ROUND(2.0 * (SELECT COUNT(*) FROM vis)
                 / (SELECT COUNT(*) FROM daily), 6) AS mean_degree
    FROM deg d ORDER BY day_idx
    """,
)
def events_visibility_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The natural visibility graph (Lacasa, Luque, Ballesteros, Luque
    & Nuño, PNAS 2008): two days of the daily mean-value series are
    connected iff every day between them lies strictly below the
    straight line joining them — mapping the series to a graph whose
    degree sequence separates periodic, random, and fractal dynamics.
    Adjacent days always see each other; peaks become hubs.

    Determinism: daily means are exact rationals; the visibility test
    compares the identical double chain in both engines (strict <,
    ties block the view); degrees and edge counts are exact integers.

    Scale shape: the pair and blocker joins are days³ on the
    calendar-bounded 30-row frame (≤ 27 000 candidate checks) — the
    corpus collapses to the daily aggregate first, the O(n³) never
    touches raw events."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
                / F.count("*")
            ).alias("m")
        )
        .select(F.row_number().over(Window.orderBy("d")).alias("i"), "m")
    )
    a = daily.select(F.col("i").alias("ai"), F.col("m").alias("mi"))
    b = daily.select(F.col("i").alias("bi"), F.col("m").alias("mj"))
    k = daily.select(F.col("i").alias("ki"), F.col("m").alias("mk"))
    cand = a.join(b, F.col("bi") > F.col("ai"))
    blocked = (
        cand.join(
            k,
            (F.col("ki") > F.col("ai"))
            & (F.col("ki") < F.col("bi"))
            & (
                F.col("mk")
                >= F.col("mi")
                + (F.col("mj") - F.col("mi"))
                * (F.col("ki") - F.col("ai"))
                / (F.col("bi") - F.col("ai")).cast("double")
            ),
        )
        .select("ai", "bi")
        .distinct()
    )
    vis = cand.select("ai", "bi").exceptAll(blocked)
    deg = (
        vis.select(F.col("ai").alias("x"))
        .unionAll(vis.select(F.col("bi").alias("x")))
        .groupBy(F.col("x").alias("day_idx"))
        .agg(F.count("*").cast("long").alias("degree"))
    )
    tot = vis.agg(F.count("*").cast("long").alias("n_edges"))
    nd = daily.agg(F.count("*").alias("nd"))
    return (
        deg.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("day_idx").cast("long").alias("day_idx"),
            "degree",
            "n_edges",
            F.round(
                2.0 * F.col("n_edges") / F.col("nd"), 6
            ).alias("mean_degree"),
        )
        .orderBy("day_idx")
    )
