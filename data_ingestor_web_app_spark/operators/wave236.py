"""Wave-236: ordinal-pattern analysis (Bandt-Pompe permutation entropy)
and the Lomb-Scargle periodogram for UNEVENLY sampled series — the two
complexity/periodicity tools that work where FFT-style methods need a
regular grid.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_HOURLY_SQL = """
    hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    )
"""


@query(
    "events_permutation_entropy",
    oracle=f"""
    WITH {_HOURLY_SQL},
    lagged AS (
        SELECT x AS x0,
               LEAD(x, 1) OVER (ORDER BY hidx) AS x1,
               LEAD(x, 2) OVER (ORDER BY hidx) AS x2
        FROM hourly
    ),
    pat AS (
        SELECT
            CAST(
              (CASE WHEN x1 < x0 THEN 1 ELSE 0 END
               + CASE WHEN x2 < x0 THEN 1 ELSE 0 END) AS VARCHAR)
            || CAST(
              (CASE WHEN x0 <= x1 THEN 1 ELSE 0 END
               + CASE WHEN x2 < x1 THEN 1 ELSE 0 END) AS VARCHAR)
            || CAST(
              (CASE WHEN x0 <= x2 THEN 1 ELSE 0 END
               + CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS VARCHAR)
            AS pattern
        FROM lagged WHERE x2 IS NOT NULL
    ),
    dist AS (
        SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n
        FROM pat GROUP BY pattern
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM dist),
    pe AS (
        SELECT ROUND(-SUM((n / CAST(t AS DOUBLE))
                          * LN(n / CAST(t AS DOUBLE))) / LN(6.0), 6) AS pe
        FROM dist CROSS JOIN tot
    )
    SELECT d.pattern, d.n,
           ROUND(d.n / CAST(t.t AS DOUBLE), 6) AS p,
           pe.pe AS pe_norm
    FROM dist d CROSS JOIN tot t CROSS JOIN pe
    """,
)
def events_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandt-Pompe permutation entropy (Bandt & Pompe, PRL 2002, public)
    at embedding dimension m=3 over the hourly mean-value series: each
    length-3 window maps to the ordinal pattern of its ranks (ties broken
    toward the EARLIER index, the standard stable convention), and the
    normalized entropy -sum p ln p / ln 3! of the 6-pattern distribution
    measures series complexity: ~1 for white noise, ~0 for monotone.

    The pattern string is "r0r1r2" where r_i is the rank of element i in
    the window — built from six pairwise CASE comparisons, so both
    engines produce bit-identical codes (no sort, no array ops).

    Scale shape: hourly rollup over the fact scan, then two LEAD windows
    and a 6-group count on the bounded series frame. Per-slice PE at
    100 TB just adds the slice key to the groupBy and window partition."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"))
    )
    w = Window.orderBy("hidx")
    lagged = hourly.select(
        F.col("x").alias("x0"),
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
    ).where(F.col("x2").isNotNull())
    r0 = (F.col("x1") < F.col("x0")).cast("int") + (
        F.col("x2") < F.col("x0")
    ).cast("int")
    r1 = (F.col("x0") <= F.col("x1")).cast("int") + (
        F.col("x2") < F.col("x1")
    ).cast("int")
    r2 = (F.col("x0") <= F.col("x2")).cast("int") + (
        F.col("x1") <= F.col("x2")
    ).cast("int")
    pat = lagged.select(
        F.concat(
            r0.cast("string"), r1.cast("string"), r2.cast("string")
        ).alias("pattern")
    )
    dist = pat.groupBy("pattern").agg(F.count("*").cast("long").alias("n"))
    tot = dist.agg(F.sum("n").cast("long").alias("t"))
    pe = (
        dist.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum(
                    (F.col("n") / F.col("t").cast("double"))
                    * F.log(F.col("n") / F.col("t").cast("double"))
                )
                / math.log(6.0),
                6,
            ).alias("pe_norm")
        )
    )
    return (
        dist.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pe))
        .select(
            "pattern",
            "n",
            F.round(F.col("n") / F.col("t").cast("double"), 6).alias("p"),
            "pe_norm",
        )
    )


# Candidate periods in hours: intra-day, half-day, daily, half-week, weekly.
_LS_PERIODS = [6.0, 12.0, 24.0, 84.0, 168.0]
_LS_EPOCH_US = 1704067200000000  # 2024-01-01T00:00:00Z — keeps w*t small
_TWO_PI = 2.0 * math.pi


@query(
    "events_lomb_scargle",
    oracle=f"""
    WITH base AS (
        SELECT (epoch_us(ts) - {_LS_EPOCH_US}) / 3600000000.0 AS t,
               value AS y
        FROM events
    ),
    g AS (SELECT AVG(y) AS ybar, CAST(COUNT(*) AS BIGINT) AS n FROM base),
    ex AS (
        SELECT p.period, {_TWO_PI!r} / p.period AS w,
               b.t, b.y - g.ybar AS d
        FROM base b CROSS JOIN g
        CROSS JOIN (SELECT UNNEST(ARRAY{_LS_PERIODS}) AS period) p
    ),
    sums AS (
        SELECT period, ANY_VALUE(w) AS w,
               SUM(d * COS(w * t)) AS c, SUM(d * SIN(w * t)) AS s,
               SUM(COS(w * t) * COS(w * t)) AS cc,
               SUM(SIN(w * t) * SIN(w * t)) AS ss,
               SUM(COS(w * t) * SIN(w * t)) AS cs,
               SUM(d * d) AS sd2, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex GROUP BY period
    ),
    tau AS (
        SELECT *, ATAN2(2 * cs, cc - ss) / (2 * w) AS tau_h FROM sums
    ),
    rot AS (
        SELECT period, n, tau_h, sd2,
               c * COS(w * tau_h) + s * SIN(w * tau_h) AS ct,
               s * COS(w * tau_h) - c * SIN(w * tau_h) AS st,
               cc * COS(w * tau_h) * COS(w * tau_h)
                 + ss * SIN(w * tau_h) * SIN(w * tau_h)
                 + 2 * cs * SIN(w * tau_h) * COS(w * tau_h) AS cct,
               ss * COS(w * tau_h) * COS(w * tau_h)
                 + cc * SIN(w * tau_h) * SIN(w * tau_h)
                 - 2 * cs * SIN(w * tau_h) * COS(w * tau_h) AS sst
        FROM tau
    )
    SELECT period AS period_h, n AS n_events,
           ROUND(tau_h, 6) AS tau_h,
           ROUND(0.5 * (ct * ct / cct + st * st / sst), 6) AS power,
           ROUND(0.5 * (ct * ct / cct + st * st / sst)
                 / (sd2 / (n - 1)), 6) AS power_norm
    FROM rot
    """,
)
def events_lomb_scargle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lomb-Scargle periodogram (Lomb 1976; Scargle, ApJ 1982, public) of
    raw event values at their EXACT irregular timestamps — no hourly
    binning — probing 6 h / 12 h / 24 h / half-week / weekly periods.
    The phase shift tau per frequency comes from atan2(sum sin 2wt,
    sum cos 2wt)/(2w), and the rotated sums are derived algebraically
    from the five one-pass moments (C, S, CC, SS, CS) via the angle-
    addition identities, so the whole statistic is a SINGLE pass.

    Exactness device: t is hours since a literal 2024-01-01 epoch (exact
    integer micros difference, then one division) keeping |w*t| < 800
    radians where both libms' argument reduction agrees to ulps; power
    and the sigma^2-normalized power round once.

    Scale shape: explode events x 5 periods (constant fan-out), one
    map-side-combinable groupBy per period — the canonical "periodogram
    as aggregation" plan that scans 100 TB once for all frequencies."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        (
            (F.expr("unix_micros(ts)") - F.lit(_LS_EPOCH_US)) / 3600000000.0
        ).alias("t"),
        F.col("value").alias("y"),
    )
    g = base.agg(F.avg("y").alias("ybar"))
    periods = F.array(*[F.lit(p) for p in _LS_PERIODS])
    ex = (
        base.crossJoin(F.broadcast(g))
        .select("t", (F.col("y") - F.col("ybar")).alias("d"))
        .withColumn("period", F.explode(periods))
        .withColumn("w", F.lit(_TWO_PI) / F.col("period"))
    )
    wt = F.col("w") * F.col("t")
    sums = ex.groupBy("period").agg(
        F.first("w").alias("w"),
        F.sum(F.col("d") * F.cos(wt)).alias("c"),
        F.sum(F.col("d") * F.sin(wt)).alias("s"),
        F.sum(F.cos(wt) * F.cos(wt)).alias("cc"),
        F.sum(F.sin(wt) * F.sin(wt)).alias("ss"),
        F.sum(F.cos(wt) * F.sin(wt)).alias("cs"),
        F.sum(F.col("d") * F.col("d")).alias("sd2"),
        F.count("*").cast("long").alias("n"),
    )
    tau = sums.withColumn(
        "tau_h",
        F.atan2(2 * F.col("cs"), F.col("cc") - F.col("ss")) / (2 * F.col("w")),
    )
    cwt = F.cos(F.col("w") * F.col("tau_h"))
    swt = F.sin(F.col("w") * F.col("tau_h"))
    rot = tau.select(
        "period",
        "n",
        "tau_h",
        "sd2",
        (F.col("c") * cwt + F.col("s") * swt).alias("ct"),
        (F.col("s") * cwt - F.col("c") * swt).alias("st"),
        (
            F.col("cc") * cwt * cwt
            + F.col("ss") * swt * swt
            + 2 * F.col("cs") * swt * cwt
        ).alias("cct"),
        (
            F.col("ss") * cwt * cwt
            + F.col("cc") * swt * swt
            - 2 * F.col("cs") * swt * cwt
        ).alias("sst"),
    )
    power = 0.5 * (
        F.col("ct") * F.col("ct") / F.col("cct")
        + F.col("st") * F.col("st") / F.col("sst")
    )
    return rot.select(
        F.col("period").alias("period_h"),
        F.col("n").alias("n_events"),
        F.round("tau_h", 6).alias("tau_h"),
        F.round(power, 6).alias("power"),
        F.round(power / (F.col("sd2") / (F.col("n") - 1)), 6).alias(
            "power_norm"
        ),
    )
