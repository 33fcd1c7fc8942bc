"""Wave-349: VAR(1) fit with companion-eigenvalue stability (Sims,
Econometrica 1980 lineage) on the purchase/click daily pair, and the
Quandt-Andrews sup-F structural-break scan (Quandt, JASA 1960;
Andrews, Econometrica 1993) on the daily trend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_PAIR_SQL = """
    cell AS (
        SELECT CAST(ts AS DATE) AS d,
               SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(ROUND(value * 100) AS BIGINT) END) AS sp,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS np,
               SUM(CASE WHEN event_type = 'click'
                   THEN CAST(ROUND(value * 100) AS BIGINT) END) AS sc,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS nc
        FROM events GROUP BY 1
    ),
    pair AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS t,
               CAST(sp AS DOUBLE) / 100.0 / np AS x,
               CAST(sc AS DOUBLE) / 100.0 / nc AS y
        FROM cell WHERE np > 0 AND nc > 0
    )
"""


def _pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ).alias("sp"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("np"),
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ).alias("sc"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("nc"),
        )
        .where((F.col("np") > 0) & (F.col("nc") > 0))
    )
    return cell.select(
        F.row_number().over(Window.orderBy("d")).alias("t"),
        (F.col("sp").cast("double") / 100.0 / F.col("np")).alias("x"),
        (F.col("sc").cast("double") / 100.0 / F.col("nc")).alias("y"),
    )


@query(
    "events_var1_stability",
    oracle=f"""
    WITH {_PAIR_SQL},
    lagged AS (
        SELECT x, y,
               LAG(x) OVER (ORDER BY t) AS xl,
               LAG(y) OVER (ORDER BY t) AS yl
        FROM pair
    ),
    mom AS (
        SELECT CAST(COUNT(xl) AS BIGINT) AS n,
               AVG(x) AS mx, AVG(y) AS my, AVG(xl) AS mxl, AVG(yl) AS myl,
               SUM(xl * xl) AS sxx, SUM(yl * yl) AS syy, SUM(xl * yl) AS sxy,
               SUM(x * xl) AS sxxl, SUM(x * yl) AS sxyl,
               SUM(y * xl) AS syxl, SUM(y * yl) AS syyl
        FROM lagged WHERE xl IS NOT NULL
    ),
    cen AS (
        SELECT n,
               sxx - n * mxl * mxl AS cxx, syy - n * myl * myl AS cyy,
               sxy - n * mxl * myl AS cxy,
               sxxl - n * mx * mxl AS cx_xl, sxyl - n * mx * myl AS cx_yl,
               syxl - n * my * mxl AS cy_xl, syyl - n * my * myl AS cy_yl
        FROM mom
    ),
    coef AS (
        SELECT n,
               (cx_xl * cyy - cx_yl * cxy) / (cxx * cyy - cxy * cxy) AS a11,
               (cx_yl * cxx - cx_xl * cxy) / (cxx * cyy - cxy * cxy) AS a12,
               (cy_xl * cyy - cy_yl * cxy) / (cxx * cyy - cxy * cxy) AS a21,
               (cy_yl * cxx - cy_xl * cxy) / (cxx * cyy - cxy * cxy) AS a22
        FROM cen
    ),
    eig AS (
        SELECT n, a11, a12, a21, a22,
               a11 + a22 AS tr, a11 * a22 - a12 * a21 AS det,
               (a11 + a22) * (a11 + a22)
                 - 4.0 * (a11 * a22 - a12 * a21) AS disc
        FROM coef
    )
    SELECT n AS n_obs,
           ROUND(a11, 6) AS a11, ROUND(a12, 6) AS a12,
           ROUND(a21, 6) AS a21, ROUND(a22, 6) AS a22,
           ROUND(CASE WHEN disc >= 0
                 THEN GREATEST(ABS((tr + SQRT(disc)) / 2.0),
                               ABS((tr - SQRT(disc)) / 2.0))
                 ELSE SQRT(ABS(det)) END, 6) AS eig_max_modulus,
           (CASE WHEN disc >= 0
                 THEN GREATEST(ABS((tr + SQRT(disc)) / 2.0),
                               ABS((tr - SQRT(disc)) / 2.0))
                 ELSE SQRT(ABS(det)) END) < 1.0 AS stable
    FROM eig
    """,
)
def events_var1_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A VAR(1) fit (the Sims 1980 macro workhorse) on the daily
    purchase/click mean pair: each equation is a two-regressor OLS
    solved by Cramer's rule on centered moments, giving the companion
    matrix A; stability requires both eigenvalues of A inside the
    unit circle — real case max|λ| from the quadratic, complex case
    modulus √|det|. The multivariate upgrade of the registry's AR/
    Granger rows: Granger asks 'does y help predict x', VAR(1) gives
    the full dynamics and whether they explode.

    Determinism: daily means are exact rationals; moments and the
    eigen chain are fixed expressions rounded 6dp; the flag compares
    identical unrounded doubles.

    Scale shape: one conditional daily aggregate, a lag window over
    the calendar-bounded frame, then 1-row linear algebra."""
    pair = _pair(spark, sf_dir)
    w = Window.orderBy("t")
    lagged = pair.select(
        "x",
        "y",
        F.lag("x").over(w).alias("xl"),
        F.lag("y").over(w).alias("yl"),
    ).where(F.col("xl").isNotNull())
    mom = lagged.agg(
        F.count("xl").cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg("xl").alias("mxl"),
        F.avg("yl").alias("myl"),
        F.sum(F.col("xl") * F.col("xl")).alias("sxx"),
        F.sum(F.col("yl") * F.col("yl")).alias("syy"),
        F.sum(F.col("xl") * F.col("yl")).alias("sxy"),
        F.sum(F.col("x") * F.col("xl")).alias("sxxl"),
        F.sum(F.col("x") * F.col("yl")).alias("sxyl"),
        F.sum(F.col("y") * F.col("xl")).alias("syxl"),
        F.sum(F.col("y") * F.col("yl")).alias("syyl"),
    )
    n = F.col("n")
    cxx = F.col("sxx") - n * F.col("mxl") * F.col("mxl")
    cyy = F.col("syy") - n * F.col("myl") * F.col("myl")
    cxy = F.col("sxy") - n * F.col("mxl") * F.col("myl")
    cx_xl = F.col("sxxl") - n * F.col("mx") * F.col("mxl")
    cx_yl = F.col("sxyl") - n * F.col("mx") * F.col("myl")
    cy_xl = F.col("syxl") - n * F.col("my") * F.col("mxl")
    cy_yl = F.col("syyl") - n * F.col("my") * F.col("myl")
    den = cxx * cyy - cxy * cxy
    a11 = (cx_xl * cyy - cx_yl * cxy) / den
    a12 = (cx_yl * cxx - cx_xl * cxy) / den
    a21 = (cy_xl * cyy - cy_yl * cxy) / den
    a22 = (cy_yl * cxx - cy_xl * cxy) / den
    tr = a11 + a22
    det = a11 * a22 - a12 * a21
    disc = tr * tr - 4.0 * det
    modulus = F.when(
        disc >= 0,
        F.greatest(
            F.abs((tr + F.sqrt(disc)) / 2.0),
            F.abs((tr - F.sqrt(disc)) / 2.0),
        ),
    ).otherwise(F.sqrt(F.abs(det)))
    return mom.select(
        n.alias("n_obs"),
        F.round(a11, 6).alias("a11"),
        F.round(a12, 6).alias("a12"),
        F.round(a21, 6).alias("a21"),
        F.round(a22, 6).alias("a22"),
        F.round(modulus, 6).alias("eig_max_modulus"),
        (modulus < 1.0).alias("stable"),
    )


@query(
    "events_quandt_sup_f",
    oracle="""
    WITH daily AS (
        SELECT ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS t,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS y
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    pre AS (
        SELECT t, y,
               SUM(CAST(t AS DOUBLE)) OVER w AS st,
               SUM(y) OVER w AS sy,
               SUM(CAST(t AS DOUBLE) * y) OVER w AS sty,
               SUM(CAST(t AS DOUBLE) * t) OVER w AS stt,
               SUM(y * y) OVER w AS syy,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    tot AS (
        SELECT n, st, sy, sty, stt, syy,
               CASE WHEN stt - st * st / n <> 0.0 THEN
                   (syy - sy * sy / n)
                   - (sty - st * sy / n) * (sty - st * sy / n)
                     / (stt - st * st / n) END AS ssr_full
        FROM pre WHERE t = n
    ),
    cand AS (
        SELECT p.t AS k, p.st AS st1, p.sy AS sy1, p.sty AS sty1,
               p.stt AS stt1, p.syy AS syy1,
               tot.st - p.st AS st2, tot.sy - p.sy AS sy2,
               tot.sty - p.sty AS sty2, tot.stt - p.stt AS stt2,
               tot.syy - p.syy AS syy2,
               CAST(p.t AS DOUBLE) AS m1,
               CAST(tot.n - p.t AS DOUBLE) AS m2,
               tot.n, tot.ssr_full
        FROM pre p CROSS JOIN tot
        WHERE p.t >= 8 AND p.t <= tot.n - 8
    ),
    fstat AS (
        SELECT k, n, ssr_full,
               (CASE WHEN stt1 - st1 * st1 / m1 <> 0.0 THEN
                   (syy1 - sy1 * sy1 / m1)
                   - (sty1 - st1 * sy1 / m1) * (sty1 - st1 * sy1 / m1)
                     / (stt1 - st1 * st1 / m1) END)
               + (CASE WHEN stt2 - st2 * st2 / m2 <> 0.0 THEN
                   (syy2 - sy2 * sy2 / m2)
                   - (sty2 - st2 * sy2 / m2) * (sty2 - st2 * sy2 / m2)
                     / (stt2 - st2 * st2 / m2) END) AS ssr_split
        FROM cand
    ),
    f AS (
        SELECT k, n,
               ((ssr_full - ssr_split) / 2.0)
               / (ssr_split / (n - 4.0)) AS fk
        FROM fstat
    ),
    best AS (SELECT MAX(fk) AS supf FROM f)
    SELECT (SELECT CAST(MIN(k) AS BIGINT) FROM f, best
            WHERE f.fk = best.supf) AS break_t,
           CAST((SELECT MAX(n) FROM f) AS BIGINT) AS n_days,
           ROUND((SELECT supf FROM best), 6) AS sup_f,
           (SELECT supf FROM best) > 8.68 AS break_detected
    """,
)
def events_quandt_sup_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Quandt-Andrews sup-F structural-break scan (Quandt, JASA
    1960; Andrews, Econometrica 1993): for every admissible breakpoint
    (15%-style trimming: t ∈ [8, n−8]) fit the daily trend separately
    on each side, compute the Chow F from prefix-sum segment moments
    in closed form, and take the supremum; compared against Andrews'
    5% sup-F critical value 8.68 (2 parameters, 15% trimming). The
    unknown-breakpoint upgrade of the registry's fixed-break
    model_chow_test row.

    Determinism: all segment SSRs are fixed chains of prefix moments
    over the exact-rational daily frame; the argmax has a smallest-k
    tie-break; the flag compares identical doubles to a shared
    literal.

    Scale shape: one daily aggregate, one prefix-moment window, then
    a ~15-row candidate frame of closed-form F's — no refit loop."""
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
            ).alias("y")
        )
        .select(F.row_number().over(Window.orderBy("d")).alias("t"), "y")
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "t",
        F.sum(F.col("t").cast("double")).over(wcum).alias("st"),
        F.sum("y").over(wcum).alias("sy"),
        F.sum(F.col("t").cast("double") * F.col("y")).over(wcum).alias("sty"),
        F.sum(F.col("t").cast("double") * F.col("t")).over(wcum).alias("stt"),
        F.sum(F.col("y") * F.col("y")).over(wcum).alias("syy"),
    )
    nfr = daily.agg(F.count("*").cast("long").alias("n"))

    def ssr(sy, sty, stt, st, syy, m):
        # the denominator is 0 only on rows the filters exclude, but
        # Catalyst may reorder the fk == supf predicate ahead of the
        # range filter inside the join — guard so ANSI mode can't
        # throw on rows that are about to be discarded
        den = stt - st * st / m
        return F.when(
            den != 0.0,
            (syy - sy * sy / m) - (sty - st * sy / m) * (sty - st * sy / m) / den,
        )

    tot = (
        pre.crossJoin(F.broadcast(nfr))
        .where(F.col("t") == F.col("n"))
        .select(
            "n",
            F.col("st").alias("tst"),
            F.col("sy").alias("tsy"),
            F.col("sty").alias("tsty"),
            F.col("stt").alias("tstt"),
            F.col("syy").alias("tsyy"),
            ssr(
                F.col("sy"),
                F.col("sty"),
                F.col("stt"),
                F.col("st"),
                F.col("syy"),
                F.col("n").cast("double"),
            ).alias("ssr_full"),
        )
    )
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .where((F.col("t") >= 8) & (F.col("t") <= F.col("n") - 8))
    )
    m1 = F.col("t").cast("double")
    m2 = (F.col("n") - F.col("t")).cast("double")
    ssr1 = ssr(
        F.col("sy"), F.col("sty"), F.col("stt"), F.col("st"), F.col("syy"), m1
    )
    ssr2 = ssr(
        F.col("tsy") - F.col("sy"),
        F.col("tsty") - F.col("sty"),
        F.col("tstt") - F.col("stt"),
        F.col("tst") - F.col("st"),
        F.col("tsyy") - F.col("syy"),
        m2,
    )
    # wrap the whole statistic in the admissible-range CASE: Catalyst
    # may evaluate a pushed-down fk == supf predicate on rows the range
    # filter would drop (m2 = 0 at t = n), and CASE evaluates lazily
    fk = F.when(
        (F.col("t") >= 8) & (F.col("t") <= F.col("n") - 8),
        ((F.col("ssr_full") - (ssr1 + ssr2)) / 2.0)
        / ((ssr1 + ssr2) / (F.col("n") - 4.0)),
    )
    f = cand.select(F.col("t").alias("k"), "n", fk.alias("fk"))
    best = f.agg(F.max("fk").alias("supf"))
    pick = (
        f.crossJoin(F.broadcast(best))
        .where(F.col("fk") == F.col("supf"))
        .agg(
            F.min("k").cast("long").alias("break_t"),
            F.max("n").cast("long").alias("n_days"),
            F.max("supf").alias("supf"),
        )
    )
    return pick.select(
        "break_t",
        "n_days",
        F.round(F.col("supf"), 6).alias("sup_f"),
        (F.col("supf") > 8.68).alias("break_detected"),
    )
