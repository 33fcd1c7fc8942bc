"""Wave-237: method-comparison / agreement statistics — Lin's concordance
correlation, Bland-Altman limits of agreement, and Deming regression — on
the naturally paired measurements TPC-H ships: an order's header total
(o_totalprice, tax- and discount-adjusted) vs the sum of its raw lineitem
extended prices. Two instruments measuring the same quantity, which is
exactly the setting these statistics were built for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Paired measurements: x = header total, y = lineitem raw sum.
_PAIRS_SQL = """
    pairs AS (
        SELECT o.o_totalprice AS x, l.y
        FROM orders o
        JOIN (SELECT l_orderkey, SUM(l_extendedprice) AS y
              FROM lineitem GROUP BY l_orderkey) l
          ON l.l_orderkey = o.o_orderkey
    )
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_extendedprice").alias("y"))
    )
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_totalprice").alias("x"), "y"
    )


@query(
    "agg_lin_ccc",
    oracle=f"""
    WITH {_PAIRS_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(x) AS mx, AVG(y) AS my,
               SUM(x * x) AS sxxr, SUM(y * y) AS syyr, SUM(x * y) AS sxyr
        FROM pairs
    ),
    c AS (
        SELECT n, mx, my,
               sxxr / n - mx * mx AS vx,
               syyr / n - my * my AS vy,
               sxyr / n - mx * my AS cxy
        FROM mom
    )
    SELECT n AS n_pairs,
           ROUND(cxy / SQRT(vx * vy), 6) AS pearson_r,
           ROUND(2 * cxy / (vx + vy + (mx - my) * (mx - my)), 6) AS ccc,
           ROUND((2 * cxy / (vx + vy + (mx - my) * (mx - my)))
                 / (cxy / SQRT(vx * vy)), 6) AS accuracy_cb
    FROM c
    """,
)
def agg_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient (Lin, Biometrics 1989,
    public): CCC = 2*cov / (var_x + var_y + (mean_x - mean_y)^2), the
    agreement measure that penalizes both scatter (precision, = Pearson
    r) and location/scale shift (accuracy, the C_b = CCC/r factor also
    emitted). Pearson alone calls y = 2x "perfect"; CCC does not — the
    reason method-comparison studies report it.

    Exactness device: population moments from raw sums in ONE aggregate;
    three rounded output chains; n stays BIGINT.

    Scale shape: the lineitem rollup shuffles once on orderkey (the
    natural key, co-partitionable with orders via bucketing at 100 TB),
    then a single map-side-combinable moment aggregate."""
    mom = _pairs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("x")).alias("sxxr"),
        F.sum(F.col("y") * F.col("y")).alias("syyr"),
        F.sum(F.col("x") * F.col("y")).alias("sxyr"),
    )
    c = mom.select(
        "n",
        "mx",
        "my",
        (F.col("sxxr") / F.col("n") - F.col("mx") * F.col("mx")).alias("vx"),
        (F.col("syyr") / F.col("n") - F.col("my") * F.col("my")).alias("vy"),
        (F.col("sxyr") / F.col("n") - F.col("mx") * F.col("my")).alias("cxy"),
    )
    r = F.col("cxy") / F.sqrt(F.col("vx") * F.col("vy"))
    ccc = (
        2
        * F.col("cxy")
        / (
            F.col("vx")
            + F.col("vy")
            + (F.col("mx") - F.col("my")) * (F.col("mx") - F.col("my"))
        )
    )
    return c.select(
        F.col("n").alias("n_pairs"),
        F.round(r, 6).alias("pearson_r"),
        F.round(ccc, 6).alias("ccc"),
        F.round(ccc / r, 6).alias("accuracy_cb"),
    )


@query(
    "agg_bland_altman",
    oracle=f"""
    WITH {_PAIRS_SQL},
    d AS (SELECT x - y AS diff FROM pairs),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(diff) AS bias,
               STDDEV_SAMP(diff) AS sd
        FROM d
    )
    SELECT m.n AS n_pairs,
           ROUND(m.bias, 2) AS bias,
           ROUND(m.sd, 2) AS sd_diff,
           ROUND(m.bias - 1.959964 * m.sd, 2) AS loa_lower,
           ROUND(m.bias + 1.959964 * m.sd, 2) AS loa_upper,
           CAST((SELECT COUNT(*) FROM d CROSS JOIN mom
                 WHERE diff < bias - 1.959964 * sd
                    OR diff > bias + 1.959964 * sd) AS BIGINT)
               AS n_outside
    FROM mom m
    """,
)
def agg_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement analysis (Bland & Altman, Lancet 1986,
    public): mean difference (bias), SD of differences, and the 95%
    limits of agreement bias +/- 1.959964*sd (literal normal point),
    plus the count of pairs falling outside the limits — expected ~5%
    if differences are normal, and the first number a reviewer asks for.

    Exactness device: money-scale outputs round to 2 dp (cents — the
    summation-order jitter on ~1e8-magnitude sums sits at 1e-6, far
    below a cent); the outside-count compares each diff against the
    UNROUNDED limits identically in both engines.

    Scale shape: one orderkey-shuffled rollup, one moment aggregate, one
    broadcast-limits filter-count — two scans of the pair frame, both
    map-side combinable."""
    pairs = _pairs(spark, sf_dir)
    d = pairs.select((F.col("x") - F.col("y")).alias("diff"))
    mom = d.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("diff").alias("bias"),
        F.stddev_samp("diff").alias("sd"),
    )
    outside = (
        d.crossJoin(F.broadcast(mom))
        .where(
            (F.col("diff") < F.col("bias") - 1.959964 * F.col("sd"))
            | (F.col("diff") > F.col("bias") + 1.959964 * F.col("sd"))
        )
        .agg(F.count("*").cast("long").alias("n_outside"))
    )
    return mom.crossJoin(F.broadcast(outside)).select(
        F.col("n").alias("n_pairs"),
        F.round("bias", 2).alias("bias"),
        F.round("sd", 2).alias("sd_diff"),
        F.round(F.col("bias") - 1.959964 * F.col("sd"), 2).alias("loa_lower"),
        F.round(F.col("bias") + 1.959964 * F.col("sd"), 2).alias("loa_upper"),
        "n_outside",
    )


@query(
    "agg_deming_regression",
    oracle=f"""
    WITH {_PAIRS_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(x) AS mx, AVG(y) AS my,
               SUM(x * x) AS sxxr, SUM(y * y) AS syyr, SUM(x * y) AS sxyr
        FROM pairs
    ),
    c AS (
        SELECT n, mx, my,
               sxxr / n - mx * mx AS vx,
               syyr / n - my * my AS vy,
               sxyr / n - mx * my AS cxy
        FROM mom
    )
    SELECT n AS n_pairs,
           ROUND((vy - vx + SQRT((vy - vx) * (vy - vx) + 4 * cxy * cxy))
                 / (2 * cxy), 6) AS slope,
           ROUND(my - mx * (vy - vx + SQRT((vy - vx) * (vy - vx)
                                           + 4 * cxy * cxy))
                          / (2 * cxy), 2) AS intercept,
           ROUND((vy - vx + SQRT((vy - vx) * (vy - vx) + 4 * cxy * cxy))
                 / (2 * cxy) - cxy / vx, 6) AS slope_minus_ols
    FROM c
    """,
)
def agg_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming regression (Deming 1943; Linnet, Clin Chem 1993, public)
    with error-variance ratio lambda = 1 (orthogonal regression): the
    closed-form slope (vy - vx + sqrt((vy-vx)^2 + 4*cov^2)) / (2*cov)
    that treats BOTH measurements as noisy — OLS of y on x attenuates
    the slope toward zero when x carries error; the emitted
    slope_minus_ols gap quantifies that attenuation on this data.

    Exactness device: same one-pass population moments as agg_lin_ccc;
    slope chains round at 6 dp, the money-scale intercept at 2 dp.

    Scale shape: identical to agg_lin_ccc — one key shuffle, one moment
    aggregate; the statistic is O(1) beyond the scan."""
    mom = _pairs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("x")).alias("sxxr"),
        F.sum(F.col("y") * F.col("y")).alias("syyr"),
        F.sum(F.col("x") * F.col("y")).alias("sxyr"),
    )
    c = mom.select(
        "n",
        "mx",
        "my",
        (F.col("sxxr") / F.col("n") - F.col("mx") * F.col("mx")).alias("vx"),
        (F.col("syyr") / F.col("n") - F.col("my") * F.col("my")).alias("vy"),
        (F.col("sxyr") / F.col("n") - F.col("mx") * F.col("my")).alias("cxy"),
    )
    dv = F.col("vy") - F.col("vx")
    slope = (dv + F.sqrt(dv * dv + 4 * F.col("cxy") * F.col("cxy"))) / (
        2 * F.col("cxy")
    )
    return c.select(
        F.col("n").alias("n_pairs"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - F.col("mx") * slope, 2).alias("intercept"),
        F.round(slope - F.col("cxy") / F.col("vx"), 6).alias(
            "slope_minus_ols"
        ),
    )
