"""Wave-295: Epps-Pulley (BHEP) normality statistic on daily volumes and
Chauvenet's outlier criterion with a fixed-polynomial erfc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_epps_pulley",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
        FROM daily
    ),
    stats AS (
        SELECT n,
               CAST(sx AS DOUBLE) / n AS mu,
               SQRT(sxx / n - (CAST(sx AS DOUBLE) / n)
                              * (CAST(sx AS DOUBLE) / n)) AS sd
        FROM mom
    ),
    y AS (
        SELECT (x - mu) / sd AS yv, n FROM daily CROSS JOIN stats
    ),
    pair_sum AS (
        SELECT SUM(EXP(-(a.yv - b.yv) * (a.yv - b.yv) / 2)) AS s_pair
        FROM y a CROSS JOIN y b
    ),
    one_sum AS (
        SELECT SUM(EXP(-yv * yv / 4)) AS s_one, MAX(n) AS n FROM y
    )
    SELECT CAST(o.n AS BIGINT) AS n_days,
           ROUND(p.s_pair / o.n, 6) AS pair_term,
           ROUND(SQRT(2.0) * o.s_one, 6) AS one_term,
           ROUND(p.s_pair / o.n - SQRT(2.0) * o.s_one
                 + o.n / SQRT(3.0), 6) AS bhep_t
    FROM pair_sum p CROSS JOIN one_sum o
    """,
)
def agg_epps_pulley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epps-Pulley / BHEP normality statistic (Epps & Pulley,
    Biometrika 1983; Baringhaus-Henze weighting beta=1, public) on
    daily event volumes: T = (1/n)ΣΣ exp(-(y_j-y_k)²/2)
    - √2·Σ exp(-y_j²/4) + n/√3 with y the studentized sample — the
    weighted L² distance between the empirical characteristic function
    and the normal's, which is CONSISTENT against every alternative
    (moment tests like Jarque-Bera are blind to distributions sharing
    normal skew/kurtosis). T >= 0 always, = 0 only in the degenerate
    limit; bigger = less normal. Emitted as the statistic plus its two
    components (the registry's Jarque-Bera / Shapiro rows give the
    calibrated verdicts; this adds the ECF-based measurement).

    Determinism: daily counts are exact integers; mu/sd come from exact
    integer sums cast once; the pair sum is O(days²) exp terms (~1e-13
    summation jitter against 6dp rounding).

    Scale shape: daily collapse first (one partial-agg shuffle); the
    pair join is days × days — calendar-bounded, never corpus-sized."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    stats = mom.select(
        "n",
        mu.alias("mu"),
        F.sqrt(F.col("sxx") / F.col("n") - mu * mu).alias("sd"),
    )
    y = daily.crossJoin(F.broadcast(stats)).select(
        ((F.col("x") - F.col("mu")) / F.col("sd")).alias("yv"), "n"
    )
    a = y.select(F.col("yv").alias("ya"))
    b = y.select(F.col("yv").alias("yb"))
    pair_sum = a.crossJoin(b).agg(
        F.sum(
            F.exp(-(F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")) / 2)
        ).alias("s_pair")
    )
    one_sum = y.agg(
        F.sum(F.exp(-F.col("yv") * F.col("yv") / 4)).alias("s_one"),
        F.max("n").alias("n"),
    )
    return pair_sum.crossJoin(F.broadcast(one_sum)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("s_pair") / F.col("n"), 6).alias("pair_term"),
        F.round(F.sqrt(F.lit(2.0)) * F.col("s_one"), 6).alias("one_term"),
        F.round(
            F.col("s_pair") / F.col("n")
            - F.sqrt(F.lit(2.0)) * F.col("s_one")
            + F.col("n") / F.sqrt(F.lit(3.0)),
            6,
        ).alias("bhep_t"),
    )


# Abramowitz & Stegun 7.1.26 erfc polynomial (|error| < 1.5e-7) — the SAME
# fixed literal chain in both engines, so parity is structural.
_ERFC_T = "1.0 / (1.0 + 0.3275911 * {z})"
_ERFC = (
    "({t} * (0.254829592 + {t} * (-0.284496736 + {t} * (1.421413741 "
    "+ {t} * (-1.453152027 + {t} * 1.061405429)))) * EXP(-({z}) * ({z})))"
)


def _erfc_sql(z: str) -> str:
    t = f"(1.0 / (1.0 + 0.3275911 * ({z})))"
    return _ERFC.format(t=t, z=z)


@query(
    "agg_chauvenet_outliers",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS sx,
               CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS sxx
        FROM vals
    ),
    stats AS (
        SELECT n, CAST(sx AS DOUBLE) / n AS mu,
               SQRT(sxx / n - (CAST(sx AS DOUBLE) / n)
                              * (CAST(sx AS DOUBLE) / n)) AS sd
        FROM mom
    ),
    z AS (
        SELECT n, ABS(c - mu) / sd AS zv FROM vals CROSS JOIN stats
    ),
    crit AS (
        SELECT n, zv,
               n * {_erfc_sql("zv / SQRT(2.0)")} AS expected_tail
        FROM z
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_obs,
           CAST(SUM(CASE WHEN expected_tail < 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           ROUND(MAX(zv), 6) AS max_z,
           ROUND(MIN(CASE WHEN expected_tail < 0.5 THEN zv END), 6)
               AS min_flagged_z
    FROM crit
    """,
)
def agg_chauvenet_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chauvenet's criterion (1863, public — the oldest principled
    outlier rule): flag an observation when the expected number of
    equally-extreme points in a normal sample, n·P(|Z| >= z) =
    n·erfc(z/√2), falls below 1/2 — i.e. the sample should not contain
    even half of one such point. The classical lab-physics companion to
    the robust flags (agg_tukey_fences, Grubbs, Dixon Q) with an
    explicit sample-size-aware threshold.

    Determinism: cents are exact integers, so mu/sd derive from exact
    integer sums cast once; erfc is the Abramowitz-Stegun 7.1.26
    polynomial (|eps| < 1.5e-7) written as the IDENTICAL literal chain
    in both engines — the flag compares n·erfc against the literal 0.5
    with the same floats on both sides; pytest cross-checks the
    polynomial against math.erfc.

    Scale shape: one moment aggregate + one broadcast-stats scan with a
    conditional count — linear, no window, no collect."""
    vals = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    mom = vals.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("sx"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("double")
        .alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    stats = mom.select(
        "n",
        mu.alias("mu"),
        F.sqrt(F.col("sxx") / F.col("n") - mu * mu).alias("sd"),
    )
    z = vals.crossJoin(F.broadcast(stats)).select(
        "n", (F.abs(F.col("c") - F.col("mu")) / F.col("sd")).alias("zv")
    )
    x = F.col("zv") / F.sqrt(F.lit(2.0))
    t = 1.0 / (1.0 + 0.3275911 * x)
    erfc = (
        t
        * (
            0.254829592
            + t
            * (
                -0.284496736
                + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))
            )
        )
        * F.exp(-x * x)
    )
    crit = z.select("n", "zv", (F.col("n") * erfc).alias("expected_tail"))
    return crit.agg(
        F.max("n").cast("long").alias("n_obs"),
        F.sum(F.when(F.col("expected_tail") < 0.5, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.round(F.max("zv"), 6).alias("max_z"),
        F.round(
            F.min(F.when(F.col("expected_tail") < 0.5, F.col("zv"))), 6
        ).alias("min_flagged_z"),
    )
