"""Wave-315: the quantile-blend robust location family (Gastwirth,
Tukey trimean, midhinge, QCD) and the classical histogram bin-width
rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_CUM_SQL = """
    vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT v, k,
               SUM(k) OVER (ORDER BY v) - k AS below,
               SUM(k) OVER (ORDER BY v) AS upto,
               SUM(k) OVER () AS n
        FROM vals
    )
"""


def _sel_sql(frac: str) -> str:
    r = f"GREATEST(CAST(CEIL({frac} * n) AS BIGINT), 1)"
    return f"MIN(CASE WHEN below < {r} AND {r} <= upto THEN v END)"


@query(
    "agg_gastwirth_trimean",
    oracle=f"""
    WITH {_CUM_SQL},
    q AS (
        SELECT {_sel_sql("1.0/3")} AS q13,
               {_sel_sql("0.5")} AS q50,
               {_sel_sql("2.0/3")} AS q23,
               {_sel_sql("0.25")} AS q25,
               {_sel_sql("0.75")} AS q75,
               CAST(MAX(n) AS BIGINT) AS n
        FROM cum
    )
    SELECT n AS n_obs,
           ROUND(q50 / 100.0, 2) AS median_value,
           ROUND((0.3 * q13 + 0.4 * q50 + 0.3 * q23) / 100.0, 4)
               AS gastwirth,
           ROUND((q25 + 2 * q50 + q75) / 4.0 / 100.0, 4) AS trimean,
           ROUND((q25 + q75) / 2.0 / 100.0, 4) AS midhinge,
           ROUND(CAST(q75 - q25 AS DOUBLE) / (q75 + q25), 6) AS qcd
    FROM q
    """,
)
def agg_gastwirth_trimean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile-blend robust location family (all public):
    Gastwirth's estimator 0.3·Q(1/3) + 0.4·median + 0.3·Q(2/3)
    (Gastwirth, JASA 1966 — near-optimal over a wide contamination
    class), Tukey's trimean (Q1 + 2·median + Q3)/4 (EDA 1977), the
    midhinge (Q1+Q3)/2, and the quartile coefficient of dispersion
    (Q3-Q1)/(Q3+Q1) (Bonett 2006 lineage) as the matching scale-free
    spread. Completes the robust-location shelf next to the registry's
    trimmed/winsorized/Hodges-Lehmann rows with the estimators that
    need only FIVE order statistics — the cheapest robustness there is.

    Determinism: every input is a rank-selected order statistic from
    the distinct-value cumulative frame (rank ceil(q·n), floored at 1);
    blends are fixed rationals; ROUND 4/6.

    Scale shape: one distinct-cents collapse; the five selections ride
    a single cumulative window over the Aggregate frame."""
    vals = (
        table(spark, sf_dir, "orders")
        .groupBy(F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("k"))
    )
    wv = Window.orderBy("v")
    cum = vals.select(
        "v",
        "k",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )

    def sel(frac):
        r = F.greatest(F.ceil(frac * F.col("n")).cast("long"), F.lit(1))
        return F.min(
            F.when((F.col("below") < r) & (r <= F.col("upto")), F.col("v"))
        )

    q = cum.agg(
        sel(1.0 / 3).alias("q13"),
        sel(0.5).alias("q50"),
        sel(2.0 / 3).alias("q23"),
        sel(0.25).alias("q25"),
        sel(0.75).alias("q75"),
        F.max("n").cast("long").alias("n"),
    )
    return q.select(
        F.col("n").alias("n_obs"),
        F.round(F.col("q50") / 100.0, 2).alias("median_value"),
        F.round(
            (0.3 * F.col("q13") + 0.4 * F.col("q50") + 0.3 * F.col("q23"))
            / 100.0,
            4,
        ).alias("gastwirth"),
        F.round(
            (F.col("q25") + 2 * F.col("q50") + F.col("q75")) / 4.0 / 100.0, 4
        ).alias("trimean"),
        F.round((F.col("q25") + F.col("q75")) / 2.0 / 100.0, 4).alias(
            "midhinge"
        ),
        F.round(
            (F.col("q75") - F.col("q25")).cast("double")
            / (F.col("q75") + F.col("q25")),
            6,
        ).alias("qcd"),
    )


@query(
    "agg_binwidth_rules",
    oracle=f"""
    WITH {_CUM_SQL},
    mom AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(k * v) AS BIGINT) AS s1,
               SUM(CAST(k AS HUGEINT) * v * v) AS s2,
               CAST(MIN(v) AS BIGINT) AS vmin,
               CAST(MAX(v) AS BIGINT) AS vmax,
               {_sel_sql("0.25")} AS q25,
               {_sel_sql("0.75")} AS q75
        FROM cum
    ),
    d AS (
        SELECT n, vmin, vmax, q75 - q25 AS iqr,
               SQRT(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                   AS sd
        FROM mom
    )
    SELECT n AS n_obs,
           CAST(CEIL(LN(CAST(n AS DOUBLE)) / LN(2.0)) + 1 AS BIGINT)
               AS sturges_bins,
           ROUND(3.49 * sd * POWER(CAST(n AS DOUBLE), -1.0 / 3) / 100, 4)
               AS scott_width,
           ROUND(2.0 * iqr * POWER(CAST(n AS DOUBLE), -1.0 / 3) / 100, 4)
               AS fd_width,
           CAST(CEIL((vmax - vmin)
                     / (3.49 * sd * POWER(CAST(n AS DOUBLE), -1.0 / 3)))
                AS BIGINT) AS scott_bins,
           CAST(CEIL((vmax - vmin)
                     / (2.0 * iqr * POWER(CAST(n AS DOUBLE), -1.0 / 3)))
                AS BIGINT) AS fd_bins
    FROM d
    """,
)
def agg_binwidth_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classical histogram bin-width rules side by side (all
    public): Sturges' bin count ceil(log2 n) + 1 (1926), Scott's
    normal-reference width 3.49·sigma·n^(-1/3) (Biometrika 1979), and
    Freedman-Diaconis 2·IQR·n^(-1/3) (1981 — the robust default
    matplotlib/numpy 'auto' leans on). Emitted as both widths (in
    dollars) and implied bin counts over the observed range — the
    histogram PLANNER for any downstream binned operator (the
    registry's equi-depth/equi-width rows consume exactly this
    decision), same spirit as the partition-size planner row.

    Determinism: n/sigma from exact integer moments; IQR from
    rank-selected order statistics; fixed POWER chains; the bin counts
    ceil exact-integer ranges over the unrounded widths.

    Scale shape: one distinct-value collapse carrying the moments and
    both quartiles in a single cumulative window pass."""
    vals = (
        table(spark, sf_dir, "orders")
        .groupBy(F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("k"))
    )
    wv = Window.orderBy("v")
    cum = vals.select(
        "v",
        "k",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )

    def sel(frac):
        r = F.greatest(F.ceil(frac * F.col("n")).cast("long"), F.lit(1))
        return F.min(
            F.when((F.col("below") < r) & (r <= F.col("upto")), F.col("v"))
        )

    mom = cum.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.col("k") * F.col("v")).cast("long").alias("s1"),
        F.sum(
            F.col("k").cast("decimal(38,0)") * F.col("v") * F.col("v")
        ).alias("s2"),
        F.min("v").cast("long").alias("vmin"),
        F.max("v").cast("long").alias("vmax"),
        sel(0.25).alias("q25"),
        sel(0.75).alias("q75"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(F.col("s2").cast("double") / F.col("n") - mean * mean)
    iqr = F.col("q75") - F.col("q25")
    ncb = F.pow(F.col("n").cast("double"), F.lit(-1.0 / 3))
    scott = 3.49 * sd * ncb
    fd = 2.0 * iqr * ncb
    return mom.select(
        F.col("n").alias("n_obs"),
        (F.ceil(F.log(F.col("n").cast("double")) / F.log(F.lit(2.0))) + 1)
        .cast("long")
        .alias("sturges_bins"),
        F.round(scott / 100, 4).alias("scott_width"),
        F.round(fd / 100, 4).alias("fd_width"),
        F.ceil((F.col("vmax") - F.col("vmin")) / scott)
        .cast("long")
        .alias("scott_bins"),
        F.ceil((F.col("vmax") - F.col("vmin")) / fd)
        .cast("long")
        .alias("fd_bins"),
    )
