"""Wave-226: Mantel-Haenszel pooled odds ratio with the CMH chi-square,
and Excel serial-date conversion.

Wave-189's Woolf machinery gives PER-STRATUM odds ratios; Mantel-
Haenszel is the standard way to POOL them across confounding strata
(here: day-of-week) without the Woolf zero-cell fragility — MH OR =
sum(a_i d_i / n_i) / sum(b_i c_i / n_i), all exact rationals — plus the
Cochran-Mantel-Haenszel chi-square with continuity correction, the test
that asks "is the association real AFTER controlling for the stratum".
Excel serial dates are the interop wart every spreadsheet-facing export
hits: day 1 = 1900-01-01, but Excel believes 1900 was a leap year, so
every serial >= 61 is shifted — the conversion must anchor at
1899-12-30 to agree with real Excel output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"


@query(
    "agg_mantel_haenszel",
    oracle="""
    WITH base AS (
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS s,
               CASE WHEN HOUR(ts) >= 12 THEN 1 ELSE 0 END AS expo,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS outc
        FROM events
    ),
    strata AS (
        SELECT s,
               CAST(SUM(expo * outc) AS BIGINT) AS a,
               CAST(SUM(expo * (1 - outc)) AS BIGINT) AS b,
               CAST(SUM((1 - expo) * outc) AS BIGINT) AS c,
               CAST(SUM((1 - expo) * (1 - outc)) AS BIGINT) AS d
        FROM base GROUP BY s
    ),
    terms AS (
        SELECT s, a, b, c, d, a + b + c + d AS n,
               CAST(a AS DOUBLE) * d / (a + b + c + d) AS ad_n,
               CAST(b AS DOUBLE) * c / (a + b + c + d) AS bc_n,
               -- CMH components: E[a] and Var[a] under H0
               CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d) AS ea,
               CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
                   AS vnum,
               CAST(a + b + c + d AS HUGEINT)
                 * (a + b + c + d) * (a + b + c + d - 1) AS vden
        FROM strata
    ),
    folded AS (
        SELECT CAST(SUM(a) AS BIGINT) AS sa,
               LIST_REDUCE(LIST(ad_n ORDER BY s), (x, y) -> x + y)
                   AS sadn,
               LIST_REDUCE(LIST(bc_n ORDER BY s), (x, y) -> x + y)
                   AS sbcn,
               LIST_REDUCE(LIST(ea ORDER BY s), (x, y) -> x + y) AS sea,
               LIST_REDUCE(LIST(CAST(vnum AS DOUBLE) / CAST(vden AS
                   DOUBLE) ORDER BY s), (x, y) -> x + y) AS sva,
               CAST(COUNT(*) AS BIGINT) AS n_strata
        FROM terms
    )
    SELECT n_strata, sa AS sum_exposed_cases,
           ROUND(sadn / sbcn, 6) AS or_mh,
           ROUND((ABS(sa - sea) - 0.5e0) * (ABS(sa - sea) - 0.5e0)
                 / sva, 6) AS cmh_chi2,
           (ABS(sa - sea) - 0.5e0) * (ABS(sa - sea) - 0.5e0) / sva
               > 3.841458820694124e0 AS significant_5pct
    FROM folded
    """,
)
def agg_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of afternoon exposure on
    purchase outcome, stratified by day-of-week, with the continuity-
    corrected CMH chi-square: OR_MH = sum(a_i d_i/n_i)/sum(b_i c_i/n_i),
    X^2 = (|sum a - sum E[a]| - 0.5)^2 / sum Var[a]. The confounder-
    adjusted association test — a weekday-driven purchase pattern that
    merely CORRELATES with afternoons is stripped out, where the
    crude 2x2 (agg_odds_ratio_woolf's input) would report it as effect.

    Determinism: every cell is an exact integer; the per-stratum
    ad/n, bc/n, E[a] and Var[a] terms are fixed double expressions
    (variance numerators exact 128-bit) folded in stratum order; the
    flag compares to the shared chi2(1) literal.

    Scale shape: one groupBy(stratum) pass over the fact table, then a
    7-row fold — constant after the scan, and the strata sums are
    additive across partitions."""
    events = table(spark, sf_dir, "events")
    base = events.select(
        F.dayofweek(F.to_date("ts")).cast("long").alias("s"),
        F.when(F.hour("ts") >= 12, 1).otherwise(0).alias("expo"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "outc"
        ),
    )
    strata = base.groupBy("s").agg(
        F.sum(F.col("expo") * F.col("outc")).cast("long").alias("a"),
        F.sum(F.col("expo") * (1 - F.col("outc"))).cast("long").alias("b"),
        F.sum((1 - F.col("expo")) * F.col("outc")).cast("long").alias("c"),
        F.sum((1 - F.col("expo")) * (1 - F.col("outc")))
        .cast("long")
        .alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = strata.select(
        "s",
        "a",
        (F.col("a").cast("double") * F.col("d") / n).alias("ad_n"),
        (F.col("b").cast("double") * F.col("c") / n).alias("bc_n"),
        (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c"))
            / n
        ).alias("ea"),
        (
            (
                (F.col("a") + F.col("b")).cast(_DEC)
                * (F.col("c") + F.col("d"))
                * (F.col("a") + F.col("c"))
                * (F.col("b") + F.col("d"))
            ).cast("double")
            / (n.cast(_DEC) * n * (n - 1)).cast("double")
        ).alias("va"),
    )
    fold = lambda col: F.aggregate(  # noqa: E731
        F.transform(
            F.sort_array(F.collect_list(F.struct("s", col))),
            lambda t: t[col],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    folded = terms.agg(
        F.sum("a").cast("long").alias("sa"),
        fold("ad_n").alias("sadn"),
        fold("bc_n").alias("sbcn"),
        fold("ea").alias("sea"),
        fold("va").alias("sva"),
        F.count("*").cast("long").alias("n_strata"),
    )
    dev = F.abs(F.col("sa") - F.col("sea")) - 0.5
    chi2 = dev * dev / F.col("sva")
    return folded.select(
        "n_strata",
        F.col("sa").alias("sum_exposed_cases"),
        F.round(F.col("sadn") / F.col("sbcn"), 6).alias("or_mh"),
        F.round(chi2, 6).alias("cmh_chi2"),
        (chi2 > 3.841458820694124).alias("significant_5pct"),
    )


@query(
    "fn_excel_serial",
    oracle="""
    WITH d AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
               CAST(DATEDIFF('day', DATE '1899-12-30',
                             CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS serial
        FROM orders
    )
    SELECT o_orderkey,
           CAST(od AS VARCHAR) AS order_date,
           serial AS excel_serial,
           CAST(CAST(DATE '1899-12-30' + TO_DAYS(CAST(serial
                AS INTEGER)) AS DATE) AS VARCHAR) AS roundtrip_date,
           CAST(od AS VARCHAR)
               = CAST(CAST(DATE '1899-12-30' + TO_DAYS(CAST(serial
                      AS INTEGER)) AS DATE) AS VARCHAR) AS roundtrip_ok
    FROM d
    """,
)
def fn_excel_serial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel serial-date conversion for order dates: serial =
    days since 1899-12-30 — the anchor that makes modern dates agree
    with Excel DESPITE its deliberate 1900-is-a-leap-year bug (serials
    1-59 are 1900-01-01..02-28, the phantom Feb 29 occupies 60, and
    everything after is shifted one; anchoring at 1899-12-30 instead of
    1899-12-31 absorbs the shift for all dates >= 1900-03-01, which all
    TPC-H dates are). Emits the serial and the exact round-trip proof
    per row — the conversion every spreadsheet export/import crosses.

    Determinism: pure integer date arithmetic both ways.

    Scale shape: row-local expressions, codegen, no shuffle."""
    orders = table(spark, sf_dir, "orders")
    serial = F.datediff(
        F.to_date("o_orderdate"), F.lit("1899-12-30").cast("date")
    ).cast("long")
    back = F.date_add(F.lit("1899-12-30").cast("date"), F.col("excel_serial").cast("int"))
    return (
        orders.select(
            "o_orderkey",
            F.to_date("o_orderdate").cast("string").alias("order_date"),
            serial.alias("excel_serial"),
        )
        .withColumn("roundtrip_date", back.cast("string"))
        .withColumn(
            "roundtrip_ok",
            F.col("order_date") == F.col("roundtrip_date"),
        )
    )
