"""Wave-233: 4-4-5 fiscal-calendar rollup (retail reporting calendar via
pure integer date arithmetic) and Benjamini-Hochberg FDR control with a
Storey pi0 estimate over hour-of-day effect tests.
"""

from __future__ import annotations

from statistics import NormalDist

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Fiscal epoch: Monday 1996-02-05 (TPC-H order dates span 1992-1998; the
# epoch being inside the span exercises negative fiscal-day arithmetic).
# 4-4-5 calendar: 364-day years of 13-week quarters split 4+4+5.
_FY_EPOCH = "1996-02-05"
_FY_BASE = 1996

# 4-4-5 period lookup: fiscal week 1..52 -> period 1..12
_W2P = []
for q in range(4):
    _W2P += [q * 3 + 1] * 4 + [q * 3 + 2] * 4 + [q * 3 + 3] * 5
_W2P_SQL = "[" + ",".join(str(p) for p in _W2P) + "]"
_W2P_SPARK = "array(" + ",".join(str(p) for p in _W2P) + ")"


@query(
    "temporal_fiscal_445",
    oracle=f"""
    WITH d AS (
        SELECT o_totalprice,
               DATEDIFF('day', DATE '{_FY_EPOCH}', o_orderdate) AS fd
        FROM orders
    ),
    f AS (
        SELECT o_totalprice,
               {_FY_BASE} + CAST(FLOOR(fd / 364.0) AS BIGINT) AS fyear,
               CAST(fd - 364 * FLOOR(fd / 364.0) AS BIGINT) // 7 + 1 AS fweek
        FROM d
    ),
    p AS (
        SELECT o_totalprice, fyear,
               CASE WHEN fweek > 52 THEN 12
                    ELSE ({_W2P_SQL})[CAST(fweek AS BIGINT)] END AS fperiod
        FROM f
    )
    SELECT fyear, CAST(fperiod AS BIGINT) AS fperiod,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM p GROUP BY fyear, fperiod
    """,
)
def temporal_fiscal_445(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rolled up on a 4-4-5 retail fiscal calendar: 364-day fiscal
    years anchored on a Monday epoch, 13-week quarters split into 4+4+5
    week periods (so every period compares like-for-like weekday mixes —
    the reason retail reporting uses 4-4-5 instead of calendar months).
    The 53rd week of a leap-cycle year folds into period 12, the standard
    convention.

    Exactness device: everything is integer day arithmetic off a literal
    epoch (DATEDIFF / floor-div / a 52-entry literal period table) — no
    timezone, no month lengths, no float. Dates BEFORE the epoch take the
    floor-division branch with negative numerators, which both engines
    evaluate identically because the floor is applied to the same double.

    Scale shape: per-row date arithmetic inside the scan + one map-side-
    combinable rollup — the fiscal dimension needs no dimension TABLE at
    all, which at 100 TB saves the calendar-join every naive BI stack
    pays."""
    o = table(spark, sf_dir, "orders")
    fd = F.datediff("o_orderdate", F.lit(_FY_EPOCH).cast("date"))
    fyear = (_FY_BASE + F.floor(fd / 364.0)).cast("long")
    fweek = ((fd - 364 * F.floor(fd / 364.0)).cast("long") / 7).cast("long") + 1
    fperiod = F.when(F.col("fweek") > 52, 12).otherwise(
        F.element_at(F.expr(_W2P_SPARK), F.col("fweek").cast("int"))
    )
    return (
        o.select(
            "o_totalprice", fyear.alias("fyear"), fweek.alias("fweek")
        )
        .select(
            "o_totalprice", "fyear", fperiod.cast("long").alias("fperiod")
        )
        .groupBy("fyear", "fperiod")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# BH step-up critical values for m=24 two-sided z-tests at q=0.10:
# c_i = Phi^-1(1 - (i/m) * q / 2) — computed ONCE here with the stdlib
# normal inverse CDF and shipped as literals to both engines (the
# wave-120 DCG-table discipline: never make two engines agree on erf).
_BH_M, _BH_Q = 24, 0.10
_BH_C = [
    NormalDist().inv_cdf(1 - (i / _BH_M) * _BH_Q / 2) for i in range(1, _BH_M + 1)
]
_BH_C_SQL = "[" + ",".join(repr(c) for c in _BH_C) + "]"
_BH_C_SPARK = "array(" + ",".join(repr(c) for c in _BH_C) + ")"
_STOREY_LAMBDA_Z = NormalDist().inv_cdf(1 - 0.5 / 2)  # |z| below this <=> p > 0.5


@query(
    "agg_bh_fdr",
    oracle=f"""
    WITH g AS (
        SELECT EXTRACT(hour FROM ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS mean_h
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT AVG(value) AS mu, STDDEV_SAMP(value) AS sd FROM events
    ),
    z AS (
        SELECT g.h, g.n,
               ROUND((g.mean_h - t.mu) / (t.sd / SQRT(g.n)), 6) AS z
        FROM g CROSS JOIN tot t
    ),
    ranked AS (
        SELECT h, n, z,
               ROW_NUMBER() OVER (ORDER BY ABS(z) DESC, h) AS rk
        FROM z
    ),
    flagged AS (
        SELECT h, n, z, rk,
               CASE WHEN ABS(z) >= ({_BH_C_SQL})[CAST(rk AS BIGINT)]
                    THEN rk ELSE 0 END AS hit
        FROM ranked
    ),
    kstar AS (SELECT MAX(hit) AS k FROM flagged)
    SELECT f.h, f.n, f.z, CAST(f.rk AS BIGINT) AS rk,
           f.rk <= k.k AS bh_rejected,
           ROUND(
             (SELECT COUNT(*) FROM flagged WHERE ABS(z) < {_STOREY_LAMBDA_Z!r})
             / ({_BH_M} * 0.5), 6) AS storey_pi0
    FROM flagged f CROSS JOIN kstar k
    """,
)
def agg_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control, the FDR way: 24 hour-of-day effect tests
    (each hour's mean event value vs the global mean, z via the pooled
    standard deviation) pushed through the Benjamini-Hochberg step-up at
    q=0.10, plus Storey's pi0 = #{p > 0.5} / (m * 0.5) estimate of the
    true-null fraction — the two numbers a metrics platform needs before
    declaring "hour 3 is different" across thousands of simultaneous
    slices. Complements agg_holm_stepdown (FWER) with the FDR regime.

    Exactness device: BH compares |z| against per-rank critical constants
    Phi^-1(1 - (i/m)q/2) computed once driver-side with the stdlib normal
    quantile and shipped AS LITERALS to both engines — no erf in SQL
    anywhere; the step-up k* = max flagged rank makes rejection a pure
    integer comparison. Storey's p > lambda count is likewise an |z| <
    literal comparison.

    Scale shape: one map-side-combinable hour rollup over the fact scan, a
    1-row global frame broadcast, and a 24-row window — the per-slice test
    fan-out pattern at any m."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy(F.hour("ts").alias("h")).agg(
        F.count("*").cast("long").alias("n"), F.avg("value").alias("mean_h")
    )
    tot = e.agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = g.crossJoin(F.broadcast(tot)).select(
        "h",
        "n",
        F.round(
            (F.col("mean_h") - F.col("mu")) / (F.col("sd") / F.sqrt("n")), 6
        ).alias("z"),
    )
    ranked = z.select(
        "h",
        "n",
        "z",
        F.row_number()
        .over(Window.orderBy(F.abs("z").desc(), "h"))
        .alias("rk"),
    )
    flagged = ranked.select(
        "h",
        "n",
        "z",
        "rk",
        F.when(
            F.abs("z")
            >= F.element_at(F.expr(_BH_C_SPARK), F.col("rk").cast("int")),
            F.col("rk"),
        )
        .otherwise(0)
        .alias("hit"),
        (F.abs("z") < _STOREY_LAMBDA_Z).cast("int").alias("is_null_ish"),
    )
    kstar = flagged.agg(
        F.max("hit").alias("k"),
        F.round(F.sum("is_null_ish") / (_BH_M * 0.5), 6).alias("storey_pi0"),
    )
    return (
        flagged.crossJoin(F.broadcast(kstar))
        .select(
            "h",
            "n",
            "z",
            F.col("rk").cast("long").alias("rk"),
            (F.col("rk") <= F.col("k")).alias("bh_rejected"),
            "storey_pi0",
        )
    )
