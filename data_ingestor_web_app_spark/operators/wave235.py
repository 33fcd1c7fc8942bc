"""Wave-235: time-series diagnostics a metrics platform runs on its own
telemetry — the Lo-MacKinlay variance-ratio random-walk test, Engle's
ARCH LM heteroskedasticity test, and a 24 h cosinor (circadian rhythm)
regression.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Hourly mean-value series: hour index is exact integer division of epoch
# microseconds (unix_micros / epoch_us — BIGINT in both engines).
_HOURLY_SQL = """
    hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    )
"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("hidx")
    ).agg(F.avg("value").alias("x"))


_VR_Q = 12


@query(
    "events_variance_ratio",
    oracle=f"""
    WITH {_HOURLY_SQL},
    ordered AS (
        SELECT x,
               LAG(x, 1) OVER (ORDER BY hidx) AS x1,
               LAG(x, {_VR_Q}) OVER (ORDER BY hidx) AS xq
        FROM hourly
    ),
    m AS (
        SELECT CAST(COUNT(x1) AS BIGINT) AS m, AVG(x - x1) AS mu
        FROM ordered WHERE x1 IS NOT NULL
    ),
    v1 AS (
        SELECT SUM((x - x1 - m.mu) * (x - x1 - m.mu)) / ANY_VALUE(m.m) AS var1
        FROM ordered CROSS JOIN m WHERE x1 IS NOT NULL
    ),
    vq AS (
        SELECT SUM((x - xq - {_VR_Q} * m.mu) * (x - xq - {_VR_Q} * m.mu))
               / (ANY_VALUE(m.m) * {_VR_Q}.0) AS varq
        FROM ordered CROSS JOIN m WHERE xq IS NOT NULL
    )
    SELECT m.m AS n_returns,
           ROUND(v1.var1, 6) AS var1,
           ROUND(vq.varq, 6) AS varq,
           ROUND(vq.varq / v1.var1, 6) AS vr,
           ROUND(SQRT(m.m) * (vq.varq / v1.var1 - 1)
                 / SQRT(2.0 * (2 * {_VR_Q} - 1) * ({_VR_Q} - 1)
                        / (3.0 * {_VR_Q})), 6) AS z_homo
    FROM m CROSS JOIN v1 CROSS JOIN vq
    """,
)
def events_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test (Lo & MacKinlay, RFS 1988,
    public) on the hourly mean-value series at horizon q=12: VR(q) =
    sigma^2(q)/sigma^2(1) with the overlapping q-period estimator
    sigma^2(q) = sum (x_t - x_{t-q} - q*mu)^2 / (m*q), and the
    homoskedastic z = sqrt(m)(VR-1)/sqrt(2(2q-1)(q-1)/(3q)). VR near 1
    is a random walk; VR < 1 mean reversion; VR > 1 trending — the
    one-number memory diagnostic next to events_hurst_rs.

    Exactness device: lag windows on an exact integer hour index; the
    two variance sums are single expression chains rounded once.

    Scale shape: one map-side-combinable hourly rollup over the scan,
    then lag windows on the bounded hourly frame (720 rows/month — a
    series of hours stays tiny at any fact scale)."""
    hourly = _hourly(spark, sf_dir)
    w = Window.orderBy("hidx")
    ordered = hourly.select(
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", _VR_Q).over(w).alias("xq"),
    )
    m = ordered.where(F.col("x1").isNotNull()).agg(
        F.count("x1").cast("long").alias("m"),
        F.avg(F.col("x") - F.col("x1")).alias("mu"),
    )
    v1 = (
        ordered.where(F.col("x1").isNotNull())
        .crossJoin(F.broadcast(m))
        .agg(
            (
                F.sum(
                    (F.col("x") - F.col("x1") - F.col("mu"))
                    * (F.col("x") - F.col("x1") - F.col("mu"))
                )
                / F.first("m")
            ).alias("var1")
        )
    )
    vq = (
        ordered.where(F.col("xq").isNotNull())
        .crossJoin(F.broadcast(m))
        .agg(
            (
                F.sum(
                    (F.col("x") - F.col("xq") - _VR_Q * F.col("mu"))
                    * (F.col("x") - F.col("xq") - _VR_Q * F.col("mu"))
                )
                / (F.first("m") * float(_VR_Q))
            ).alias("varq")
        )
    )
    vr = F.col("varq") / F.col("var1")
    z_den = math.sqrt(2.0 * (2 * _VR_Q - 1) * (_VR_Q - 1) / (3.0 * _VR_Q))
    return (
        m.crossJoin(F.broadcast(v1))
        .crossJoin(F.broadcast(vq))
        .select(
            F.col("m").alias("n_returns"),
            F.round("var1", 6).alias("var1"),
            F.round("varq", 6).alias("varq"),
            F.round(vr, 6).alias("vr"),
            F.round(F.sqrt(F.col("m")) * (vr - 1) / z_den, 6).alias("z_homo"),
        )
    )


@query(
    "events_arch_lm",
    oracle=f"""
    WITH {_HOURLY_SQL},
    xb AS (SELECT AVG(x) AS xbar FROM hourly),
    sq AS (
        SELECT hidx, (x - xb.xbar) * (x - xb.xbar) AS y
        FROM hourly CROSS JOIN xb
    ),
    lagged AS (
        SELECT y,
               LAG(y, 1) OVER (ORDER BY hidx) AS y1,
               LAG(y, 2) OVER (ORDER BY hidx) AS y2
        FROM sq
    ),
    d AS (SELECT y, y1, y2 FROM lagged WHERE y2 IS NOT NULL),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t,
               AVG(y) AS my, AVG(y1) AS m1, AVG(y2) AS m2,
               SUM(y1 * y1) AS s11r, SUM(y2 * y2) AS s22r,
               SUM(y1 * y2) AS s12r, SUM(y1 * y) AS s1yr,
               SUM(y2 * y) AS s2yr, SUM(y * y) AS syyr
        FROM d
    ),
    c AS (
        SELECT t,
               s11r - t * m1 * m1 AS s11, s22r - t * m2 * m2 AS s22,
               s12r - t * m1 * m2 AS s12, s1yr - t * m1 * my AS s1y,
               s2yr - t * m2 * my AS s2y, syyr - t * my * my AS syy
        FROM mom
    ),
    fit AS (
        SELECT t, syy,
               (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
               (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2,
               s1y, s2y
        FROM c
    )
    SELECT t AS t_obs,
           ROUND((b1 * s1y + b2 * s2y) / syy, 6) AS r2,
           ROUND(t * (b1 * s1y + b2 * s2y) / syy, 6) AS lm_stat,
           t * (b1 * s1y + b2 * s2y) / syy > 5.991465 AS arch_present
    FROM fit
    """,
)
def events_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test (Engle, Econometrica 1982, public) with 2
    lags on the hourly mean-value series: regress the squared centered
    series y_t on [1, y_{t-1}, y_{t-2}] via the closed-form centered
    2x2 normal equations; LM = T*R^2 ~ chi2(2) under no-ARCH, compared
    against the literal 5% point 5.991465 (the wave-233 discipline:
    critical constants ship as literals, never erf/gamma in SQL).

    Exactness device: centered cross-moments from raw sums, one
    determinant division chain, rounded once; the reject flag compares
    the identical unrounded chain in both engines.

    Scale shape: the fact scan folds to the bounded hourly frame first;
    the regression is O(hours). At 100 TB you'd run this per metric
    slice — the groupBy key just widens."""
    hourly = _hourly(spark, sf_dir)
    xb = hourly.agg(F.avg("x").alias("xbar"))
    sq = hourly.crossJoin(F.broadcast(xb)).select(
        "hidx",
        ((F.col("x") - F.col("xbar")) * (F.col("x") - F.col("xbar"))).alias(
            "y"
        ),
    )
    w = Window.orderBy("hidx")
    d = sq.select(
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
    ).where(F.col("y2").isNotNull())
    mom = d.agg(
        F.count("*").cast("long").alias("t"),
        F.avg("y").alias("my"),
        F.avg("y1").alias("m1"),
        F.avg("y2").alias("m2"),
        F.sum(F.col("y1") * F.col("y1")).alias("s11r"),
        F.sum(F.col("y2") * F.col("y2")).alias("s22r"),
        F.sum(F.col("y1") * F.col("y2")).alias("s12r"),
        F.sum(F.col("y1") * F.col("y")).alias("s1yr"),
        F.sum(F.col("y2") * F.col("y")).alias("s2yr"),
        F.sum(F.col("y") * F.col("y")).alias("syyr"),
    )
    c = mom.select(
        "t",
        (F.col("s11r") - F.col("t") * F.col("m1") * F.col("m1")).alias("s11"),
        (F.col("s22r") - F.col("t") * F.col("m2") * F.col("m2")).alias("s22"),
        (F.col("s12r") - F.col("t") * F.col("m1") * F.col("m2")).alias("s12"),
        (F.col("s1yr") - F.col("t") * F.col("m1") * F.col("my")).alias("s1y"),
        (F.col("s2yr") - F.col("t") * F.col("m2") * F.col("my")).alias("s2y"),
        (F.col("syyr") - F.col("t") * F.col("my") * F.col("my")).alias("syy"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det
    b2 = (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det
    r2 = (b1 * F.col("s1y") + b2 * F.col("s2y")) / F.col("syy")
    return c.select(
        F.col("t").alias("t_obs"),
        F.round(r2, 6).alias("r2"),
        F.round(F.col("t") * r2, 6).alias("lm_stat"),
        (F.col("t") * r2 > 5.991465).alias("arch_present"),
    )


_OMEGA = 2.0 * math.pi / 24.0


@query(
    "events_cosinor",
    oracle=f"""
    WITH pts AS (
        SELECT value AS y,
               COS({_OMEGA!r} * ((epoch_us(ts) % 86400000000) / 3600000000.0))
                   AS c,
               SIN({_OMEGA!r} * ((epoch_us(ts) % 86400000000) / 3600000000.0))
                   AS s
        FROM events
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(y) AS my, AVG(c) AS mc, AVG(s) AS ms,
               SUM(c * c) AS sccr, SUM(s * s) AS sssr, SUM(c * s) AS scsr,
               SUM(c * y) AS scyr, SUM(s * y) AS ssyr
        FROM pts
    ),
    cen AS (
        SELECT n, my, mc, ms,
               sccr - n * mc * mc AS scc, sssr - n * ms * ms AS sss,
               scsr - n * mc * ms AS scs, scyr - n * mc * my AS scy,
               ssyr - n * ms * my AS ssy
        FROM mom
    ),
    fit AS (
        SELECT n, my, mc, ms,
               (scy * sss - ssy * scs) / (scc * sss - scs * scs) AS a,
               (ssy * scc - scy * scs) / (scc * sss - scs * scs) AS b
        FROM cen
    )
    SELECT n AS n_events,
           ROUND(my - a * mc - b * ms, 6) AS mesor,
           ROUND(SQRT(a * a + b * b), 6) AS amplitude,
           ROUND(FMOD(FMOD(ATAN2(b, a) / {_OMEGA!r}, 24.0) + 24.0, 24.0), 6)
               AS acrophase_h
    FROM fit
    """,
)
def events_cosinor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-component cosinor rhythmometry (Nelson, Tong, Lee &
    Halberg, Chronobiologia 1979, public): fit value ~ M + a*cos(wt) +
    b*sin(wt) at the 24 h period by closed-form centered OLS; report
    MESOR (rhythm-adjusted mean), amplitude sqrt(a^2+b^2), and
    acrophase (peak clock hour, atan2(b,a)/w mod 24). The parametric
    complement to agg_circular_hour_stats: it estimates the SHAPE of
    the daily cycle, not just concentration.

    Exactness device: time-of-day comes from exact integer epoch-micros
    arithmetic (identical BIGINT mod in both engines) before the single
    cos/sin evaluation at small argument (|wt| <= 2*pi, where both
    libms agree to ulps); cross-moments reduce in one pass; outputs
    round once. FMOD keeps the C-style sign semantics Spark's pmod
    mirrors via the +24 fold.

    Scale shape: a single map-side-combinable aggregate over the fact
    scan — 9 running sums, no shuffle beyond the 1-row combine. This is
    the cheapest possible shape for a fitted periodic model at 100 TB."""
    e = table(spark, sf_dir, "events")
    tod = (F.expr("unix_micros(ts) % 86400000000") / 3600000000.0)
    pts = e.select(
        F.col("value").alias("y"),
        F.cos(_OMEGA * tod).alias("c"),
        F.sin(_OMEGA * tod).alias("s"),
    )
    mom = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("y").alias("my"),
        F.avg("c").alias("mc"),
        F.avg("s").alias("ms"),
        F.sum(F.col("c") * F.col("c")).alias("sccr"),
        F.sum(F.col("s") * F.col("s")).alias("sssr"),
        F.sum(F.col("c") * F.col("s")).alias("scsr"),
        F.sum(F.col("c") * F.col("y")).alias("scyr"),
        F.sum(F.col("s") * F.col("y")).alias("ssyr"),
    )
    cen = mom.select(
        "n",
        "my",
        "mc",
        "ms",
        (F.col("sccr") - F.col("n") * F.col("mc") * F.col("mc")).alias("scc"),
        (F.col("sssr") - F.col("n") * F.col("ms") * F.col("ms")).alias("sss"),
        (F.col("scsr") - F.col("n") * F.col("mc") * F.col("ms")).alias("scs"),
        (F.col("scyr") - F.col("n") * F.col("mc") * F.col("my")).alias("scy"),
        (F.col("ssyr") - F.col("n") * F.col("ms") * F.col("my")).alias("ssy"),
    )
    det = F.col("scc") * F.col("sss") - F.col("scs") * F.col("scs")
    a = (F.col("scy") * F.col("sss") - F.col("ssy") * F.col("scs")) / det
    b = (F.col("ssy") * F.col("scc") - F.col("scy") * F.col("scs")) / det
    return cen.select(
        F.col("n").alias("n_events"),
        F.round(F.col("my") - a * F.col("mc") - b * F.col("ms"), 6).alias(
            "mesor"
        ),
        F.round(F.sqrt(a * a + b * b), 6).alias("amplitude"),
        F.round(
            ((F.atan2(b, a) / _OMEGA) % 24.0 + 24.0) % 24.0, 6
        ).alias("acrophase_h"),
    )
