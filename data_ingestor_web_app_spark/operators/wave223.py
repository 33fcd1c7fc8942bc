"""Wave-223: Anderson-Darling normality test and the Fisher-z
confidence interval for a Pearson correlation.

Anderson-Darling is the most powerful of the classical omnibus
normality tests in the tails — exactly where Shapiro-Francia and
Lilliefors (registered) are weakest; its weight function 1/[F(1-F)]
makes tail misfit count. The normal CDF uses the Abramowitz-Stegun
26.2.17 rational approximation as an IDENTICAL literal polynomial in
both engines, so the statistic is deterministic without relying on any
engine-native erf. Fisher-z puts the missing confidence interval on
agg_corr_covar's point estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
# Abramowitz-Stegun 26.2.17 coefficients (shared literals)
_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_P = 0.2316419
_Z95 = 1.959963984540054


def _phi_sql(z: str) -> str:
    """DuckDB: standard normal CDF via A&S 26.2.17 on expression z."""
    t = f"(1.0e0 / (1.0e0 + {_P} * ABS({z})))"
    poly = (
        f"({t} * ({_B[0]} + {t} * ({_B[1]} + {t} * ({_B[2]} + {t} *"
        f" ({_B[3]} + {t} * {_B[4]})))))"
    )
    upper = (
        f"(1.0e0 - EXP(-0.5e0 * {z} * {z}) / SQRT(2 * PI()) * {poly})"
    )
    return f"(CASE WHEN {z} >= 0 THEN {upper} ELSE 1.0e0 - {upper} END)"


def _phi_col(z):
    t = 1.0 / (1.0 + _P * F.abs(z))
    poly = t * (
        _B[0] + t * (_B[1] + t * (_B[2] + t * (_B[3] + t * _B[4])))
    )
    import math

    upper = 1.0 - F.exp(-0.5 * z * z) / math.sqrt(2 * math.pi) * poly
    return F.when(z >= 0, upper).otherwise(1.0 - upper)


@query(
    "agg_anderson_darling",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
        FROM daily
    ),
    z AS (
        SELECT ROW_NUMBER() OVER (ORDER BY y, d) AS i, m.n,
               (y - m.s / CAST(m.n AS DOUBLE))
                 / SQRT(CAST(m.n * m.s2 - CAST(m.s AS HUGEINT) * m.s
                             AS DOUBLE) / (CAST(m.n AS HUGEINT)
                                           * (m.n - 1))) AS zi
        FROM daily, mom m
    ),
    terms AS (
        SELECT a.n,
               (2 * a.i - 1) * (LN({_phi_sql("a.zi")})
                                + LN(1.0e0 - {_phi_sql("b.zi")}))
                   AS trm,
               a.i
        FROM z a JOIN z b ON b.i = a.n + 1 - a.i
    ),
    agg AS (
        SELECT n,
               LIST_REDUCE(LIST(trm ORDER BY i), (x, y) -> x + y) AS ssum
        FROM terms GROUP BY n
    )
    SELECT n AS n_days,
           ROUND(-CAST(n AS DOUBLE) - ssum / n, 6) AS a2,
           ROUND((-CAST(n AS DOUBLE) - ssum / n)
                 * (1 + 0.75e0 / n + 2.25e0 / (CAST(n AS DOUBLE) * n)),
                 6) AS a2_star,
           (-CAST(n AS DOUBLE) - ssum / n)
               * (1 + 0.75e0 / n + 2.25e0 / (CAST(n AS DOUBLE) * n))
               > 0.752 AS reject_5pct
    FROM agg
    """,
)
def agg_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality test on the daily spend series:
    A^2 = -n - (1/n) * sum (2i-1)[ln F(z_(i)) + ln(1 - F(z_(n+1-i)))]
    with the case-3 (estimated mean/sd) small-sample correction and the
    0.752 5%% critical value. AD weights the tails by 1/[F(1-F)] — the
    omnibus test that catches heavy tails the registered Shapiro-Francia
    / Lilliefors / Jarque-Bera trio can miss.

    Determinism: z-scores come from exact integer moments with
    correctly-rounded sqrt; the normal CDF is the Abramowitz-Stegun
    26.2.17 polynomial with SHARED literal coefficients (identical
    expression both engines — no engine-native erf involved); the
    weighted sum folds in sorted-rank order.

    Scale shape: per-day collapse, then ranking over the bounded
    calendar frame and its mirror-rank equi-join."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("s2"),
    )
    sd = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s").cast(_DEC) * F.col("s")).cast(
            "double"
        )
        / (F.col("n").cast(_DEC) * (F.col("n") - 1)).cast("double")
    )
    z = (
        daily.crossJoin(F.broadcast(mom))
        .withColumn(
            "zi",
            (F.col("y") - F.col("s") / F.col("n").cast("double")) / sd,
        )
        .withColumn(
            "i",
            F.row_number().over(
                # bounded: one row per calendar day
                Window.orderBy("y", "d")
            ),
        )
        .select("i", "n", "zi")
    )
    mirror = z.select(
        (F.col("n") + 1 - F.col("i")).alias("i"), F.col("zi").alias("zm")
    )
    terms = z.join(mirror, "i").select(
        "n",
        "i",
        (
            (2 * F.col("i") - 1)
            * (
                F.log(_phi_col(F.col("zi")))
                + F.log(1.0 - _phi_col(F.col("zm")))
            )
        ).alias("trm"),
    )
    agg = terms.groupBy("n").agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "trm"))),
                lambda t: t.trm,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("ssum")
    )
    a2 = -F.col("n").cast("double") - F.col("ssum") / F.col("n")
    corr = 1 + 0.75 / F.col("n") + 2.25 / (
        F.col("n").cast("double") * F.col("n")
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.round(a2, 6).alias("a2"),
        F.round(a2 * corr, 6).alias("a2_star"),
        (a2 * corr > 0.752).alias("reject_5pct"),
    )


@query(
    "agg_corr_fisher_ci",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM daily
    ),
    r AS (
        SELECT n,
               CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                             AS DOUBLE)
                        * CAST(n * syy - CAST(sy AS HUGEINT) * sy
                               AS DOUBLE)) AS rr
        FROM mom
    ),
    z AS (
        SELECT n, rr,
               0.5e0 * LN((1 + rr) / (1 - rr)) AS fz,
               {_Z95} / SQRT(CAST(n - 3 AS DOUBLE)) AS hw
        FROM r
    )
    SELECT n AS n_days, ROUND(rr, 6) AS pearson_r,
           ROUND(fz, 6) AS fisher_z,
           ROUND((EXP(2 * (fz - hw)) - 1) / (EXP(2 * (fz - hw)) + 1), 6)
               AS ci_lo,
           ROUND((EXP(2 * (fz + hw)) - 1) / (EXP(2 * (fz + hw)) + 1), 6)
               AS ci_hi
    FROM z
    """,
)
def agg_corr_fisher_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95%% Fisher-z confidence interval for the Pearson correlation
    between daily event count and daily spend: z = atanh(r), half-width
    1.96/sqrt(n-3), back-transformed with tanh. agg_corr_covar gives the
    point estimate; this says whether "r = 0.6" could plausibly be 0.2 —
    the difference between a finding and a coin flip at 30 days of data.

    Determinism: r comes from exact integer moments (one sqrt of exact
    products); atanh/tanh are written out as ln/exp compositions with
    identical shape in both engines.

    Scale shape: per-day collapse then one moment row — constant
    arithmetic after the scan."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y"),
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
    )
    rr = (
        F.col("n") * F.col("sxy") - F.col("sx").cast(_DEC) * F.col("sy")
    ).cast("double") / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx").cast(_DEC) * F.col("sx")).cast(
            "double"
        )
        * (F.col("n") * F.col("syy") - F.col("sy").cast(_DEC) * F.col("sy")).cast(
            "double"
        )
    )
    r = mom.select("n", rr.alias("rr"))
    fz = 0.5 * F.log((1 + F.col("rr")) / (1 - F.col("rr")))
    hw = F.lit(_Z95) / F.sqrt((F.col("n") - 3).cast("double"))
    tanh = lambda e: (F.exp(2 * e) - 1) / (F.exp(2 * e) + 1)  # noqa: E731
    return r.select(
        F.col("n").alias("n_days"),
        F.round("rr", 6).alias("pearson_r"),
        F.round(fz, 6).alias("fisher_z"),
        F.round(tanh(fz - hw), 6).alias("ci_lo"),
        F.round(tanh(fz + hw), 6).alias("ci_hi"),
    )
