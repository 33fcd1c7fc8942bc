"""Wave-188: Lilliefors normality (fitted-parameter KS), Mood's median
test, and the turning-point randomness test.

Lilliefors needs the standard normal CDF, which neither engine has as a
builtin; Phi is expressed through the Abramowitz-Stegun 26.2.17 rational
approximation (|eps| < 7.5e-8) written TOKEN-IDENTICALLY in both plans --
the same literal-injection determinism pattern as the Blom scores in
wave 185.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Abramowitz-Stegun 26.2.17 for the upper tail Q(z) = 1 - Phi(z), z >= 0:
# Q(z) = phi(z) * (b1 k + b2 k^2 + b3 k^3 + b4 k^4 + b5 k^5),
# k = 1 / (1 + 0.2316419 z).  Written once; {Z} substituted per engine.
_PHI = (
    "(CASE WHEN {Z} >= 0 THEN "
    "1 - EXP(-({Z}) * ({Z}) / 2) * 0.3989422804014327e0 * "
    "((((1.330274429e0 / (1 + 0.2316419e0 * ({Z})) - 1.821255978e0) "
    "/ (1 + 0.2316419e0 * ({Z})) + 1.781477937e0) "
    "/ (1 + 0.2316419e0 * ({Z})) - 0.356563782e0) "
    "/ (1 + 0.2316419e0 * ({Z})) + 0.319381530e0) "
    "/ (1 + 0.2316419e0 * ({Z})) "
    "ELSE EXP(-({Z}) * ({Z}) / 2) * 0.3989422804014327e0 * "
    "((((1.330274429e0 / (1 - 0.2316419e0 * ({Z})) - 1.821255978e0) "
    "/ (1 - 0.2316419e0 * ({Z})) + 1.781477937e0) "
    "/ (1 - 0.2316419e0 * ({Z})) - 0.356563782e0) "
    "/ (1 - 0.2316419e0 * ({Z})) + 0.319381530e0) "
    "/ (1 - 0.2316419e0 * ({Z})) END)"
)


@query(
    "agg_lilliefors_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS BIGINT) AS s2
        FROM daily
    ),
    ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY x) AS BIGINT) AS i,
               CAST(x AS DOUBLE) AS x, n, s1, s2
        FROM daily CROSS JOIN mom
    ),
    z AS (
        SELECT i, n,
               (x - CAST(s1 AS DOUBLE) / n)
                   / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (n - 1))) AS zi
        FROM ranked
    ),
    d AS (
        SELECT n,
               CAST(i AS DOUBLE) / n - {_PHI.format(Z="zi")} AS dplus,
               {_PHI.format(Z="zi")} - (CAST(i AS DOUBLE) - 1) / n AS dminus
        FROM z
    )
    SELECT n AS n_days,
           ROUND(MAX(CASE WHEN dplus > dminus THEN dplus
                          ELSE dminus END), 6) AS d_stat,
           CAST(MAX(CASE WHEN dplus > dminus THEN dplus
                         ELSE dminus END)
                > 0.886e0 / SQRT(CAST(n AS DOUBLE)) AS INT)
               AS reject_5pct
    FROM d GROUP BY n
    """,
)
def agg_lilliefors_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lilliefors normality test on the daily event-count series: the KS
    statistic against a normal with MEAN AND VARIANCE FITTED FROM THE
    DATA (which is what makes it Lilliefors rather than plain KS), with
    the standard large-sample 5% critical value 0.886/sqrt(n). Completes
    the normality triptych: moment-based (agg_jarque_bera), rank-based
    (agg_shapiro_francia), and now EDF-based.

    Determinism: mean and sd come from exact integer moments (one double
    expression each, identical shape); Phi is the Abramowitz-Stegun
    26.2.17 rational approximation injected token-identically into both
    plans, so every z_i and CDF value is the same IEEE double; max over
    the 30-element frame is order-free.

    Scale shape: the groupBy(day) rollup is the corpus-linear part; the
    ranked EDF walk runs on the calendar-bounded daily frame."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    ranked = daily.crossJoin(F.broadcast(mom)).select(
        F.row_number().over(Window.orderBy("x")).cast("long").alias("i"),
        F.col("x").cast("double").alias("x"),
        "n",
        "s1",
        "s2",
    )
    z = ranked.select(
        "i",
        "n",
        (
            (F.col("x") - F.col("s1").cast("double") / F.col("n"))
            / F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
                / (F.col("n").cast("double") * (F.col("n") - 1))
            )
        ).alias("zi"),
    )
    phi = _PHI.format(Z="zi")
    d = z.select(
        "n",
        F.expr(f"cast(i as double) / n - {phi}").alias("dplus"),
        F.expr(f"{phi} - (cast(i as double) - 1) / n").alias("dminus"),
    )
    dm = F.max(
        F.when(F.col("dplus") > F.col("dminus"), F.col("dplus")).otherwise(
            F.col("dminus")
        )
    )
    return d.groupBy("n").agg(
        F.round(dm, 6).alias("d_stat"),
        (dm > F.lit(0.886) / F.sqrt(F.col("n").cast("double")))
        .cast("int")
        .alias("reject_5pct"),
    ).select(F.col("n").alias("n_days"), "d_stat", "reject_5pct")


@query(
    "agg_mood_median_test",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS qv
        FROM events
    ),
    cells AS (
        SELECT qv, CAST(COUNT(*) AS BIGINT) AS c FROM q GROUP BY qv
    ),
    cum AS (
        SELECT qv,
               CAST(SUM(c) OVER (ORDER BY qv ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
               CAST(SUM(c) OVER () AS BIGINT) AS nt
        FROM cells
    ),
    med AS (
        SELECT CAST(MIN(CASE WHEN 2 * cc >= nt + CASE WHEN nt % 2 = 0
                                  THEN 0 ELSE 1 END
                             THEN qv END) AS BIGINT) AS cutoff,
               MIN(nt) AS nt
        FROM cum
    ),
    counts AS (
        SELECT q.event_type,
               CAST(SUM(CASE WHEN q.qv > med.cutoff THEN 1 ELSE 0 END)
                    AS BIGINT) AS abv,
               CAST(SUM(CASE WHEN q.qv <= med.cutoff THEN 1 ELSE 0 END)
                    AS BIGINT) AS blw
        FROM q CROSS JOIN med GROUP BY q.event_type
    ),
    tot AS (
        SELECT CAST(SUM(abv) AS BIGINT) AS ta,
               CAST(SUM(blw) AS BIGINT) AS tb,
               CAST(SUM(abv + blw) AS BIGINT) AS n
        FROM counts
    ),
    folded AS (
        SELECT tot.ta, tot.tb, tot.n,
               CAST(COUNT(*) AS BIGINT) AS k,
               LIST(STRUCT_PACK(g := event_type, abv := abv,
                    blw := blw, ni := abv + blw)
                    ORDER BY event_type) AS xs
        FROM counts CROSS JOIN tot GROUP BY tot.ta, tot.tb, tot.n
    )
    SELECT n AS n_total, k AS n_groups,
           ROUND(LIST_REDUCE(LIST_TRANSFORM(xs, s ->
               (s.abv - CAST(s.ni AS DOUBLE) * ta / n)
               * (s.abv - CAST(s.ni AS DOUBLE) * ta / n)
               / (CAST(s.ni AS DOUBLE) * ta / n)
               + (s.blw - CAST(s.ni AS DOUBLE) * tb / n)
               * (s.blw - CAST(s.ni AS DOUBLE) * tb / n)
               / (CAST(s.ni AS DOUBLE) * tb / n)), (a, b) -> a + b), 6)
               AS chi2_stat
    FROM folded
    """,
)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types: classify every observation
    as above / at-or-below the GLOBAL median and chi-square the resulting
    2 x k contingency table -- the crudest but most assumption-free of
    the k-sample location tests (complementing Kruskal-Wallis and ANOVA,
    both already registered).

    Determinism: the cutoff is the exact lower median of the quantized
    milli-values, found from per-value cumulative counts (2*cum >= N+1
    for odd N, >= N for even -- pure integer arithmetic, no interpolated
    percentile that the two engines would disagree on); cell counts are
    exact; the chi-square sum is an ORDERED fold over the event_type-
    sorted struct list.

    Scale shape: one groupBy(value-bin) + one groupBy(event_type), both
    with map-side partials; the cumulative runs over distinct bins. No
    sort of the raw fact table."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("qv"),
    )
    cells = q.groupBy("qv").agg(F.count("*").cast("long").alias("c"))
    cum = cells.select(
        "qv",
        F.sum("c")
        .over(Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("nt"),
    )
    med = cum.agg(
        F.min(
            F.when(
                2 * F.col("cc")
                >= F.col("nt")
                + F.when(F.col("nt") % 2 == 0, F.lit(0)).otherwise(F.lit(1)),
                F.col("qv"),
            )
        )
        .cast("long")
        .alias("cutoff")
    )
    counts = (
        q.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("qv") > F.col("cutoff")).cast("long"))
            .cast("long")
            .alias("abv"),
            F.sum((F.col("qv") <= F.col("cutoff")).cast("long"))
            .cast("long")
            .alias("blw"),
        )
    )
    tot = counts.agg(
        F.sum("abv").cast("long").alias("ta"),
        F.sum("blw").cast("long").alias("tb"),
        F.sum(F.col("abv") + F.col("blw")).cast("long").alias("n"),
    )
    folded = counts.crossJoin(F.broadcast(tot)).groupBy("ta", "tb", "n").agg(
        F.count("*").cast("long").alias("k"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("event_type").alias("g"),
                    "abv",
                    "blw",
                    (F.col("abv") + F.col("blw")).alias("ni"),
                )
            )
        ).alias("xs"),
    )
    return folded.select(
        F.col("n").alias("n_total"),
        F.col("k").alias("n_groups"),
        F.round(
            F.expr(
                "aggregate(transform(xs, s ->"
                " (s.abv - cast(s.ni as double) * ta / n)"
                " * (s.abv - cast(s.ni as double) * ta / n)"
                " / (cast(s.ni as double) * ta / n)"
                " + (s.blw - cast(s.ni as double) * tb / n)"
                " * (s.blw - cast(s.ni as double) * tb / n)"
                " / (cast(s.ni as double) * tb / n)), 0d, (a, b) -> a + b)"
            ),
            6,
        ).alias("chi2_stat"),
    )


@query(
    "events_turning_point_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT))
                    AS BIGINT) AS tot
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    lagged AS (
        SELECT tot,
               LAG(tot) OVER (ORDER BY d) AS prv,
               LEAD(tot) OVER (ORDER BY d) AS nxt,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    )
    SELECT n AS n_days,
           CAST(SUM(CASE WHEN (tot - prv) * (nxt - tot) < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_turning,
           ROUND(2.0e0 * (n - 2) / 3, 6) AS expected,
           ROUND((SUM(CASE WHEN (tot - prv) * (nxt - tot) < 0
                           THEN 1 ELSE 0 END)
                  - 2.0e0 * (n - 2) / 3)
                 / SQRT((16.0e0 * n - 29) / 90), 6) AS z_stat
    FROM lagged GROUP BY n
    """,
)
def events_turning_point_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test of serial randomness on the daily milli-value
    series: count strict local extrema (sign change between consecutive
    differences) and compare to the i.i.d. expectation 2(n-2)/3 with
    variance (16n-29)/90 -- too few turns = trend, too many =
    oscillation. The quickest sanity check before fitting any time-series
    model, complementing the run-based agg_runs_test.

    Determinism: daily totals are exact milli-integers, so the strict
    sign product is exact; only the closed-form z touches doubles
    (identical expression shape both engines).

    Scale shape: corpus cost is the groupBy(day); lag/lead run on the
    ~30-row calendar frame."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("tot")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "tot",
        F.lag("tot").over(w).alias("prv"),
        F.lead("tot").over(w).alias("nxt"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    turn = F.sum(
        F.when(
            (F.col("tot") - F.col("prv")) * (F.col("nxt") - F.col("tot")) < 0, 1
        ).otherwise(0)
    ).cast("long")
    n = F.col("n")
    return lagged.groupBy("n").agg(
        turn.alias("n_turning"),
        F.round(F.lit(2.0) * (n - 2) / 3, 6).alias("expected"),
        F.round(
            (turn - F.lit(2.0) * (n - 2) / 3)
            / F.sqrt((F.lit(16.0) * n - 29) / 90),
            6,
        ).alias("z_stat"),
    ).select(n.alias("n_days"), "n_turning", "expected", "z_stat")
