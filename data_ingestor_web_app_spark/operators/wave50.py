"""Wave-50: Pythagorean mean family, SQL LATERAL correlated join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_mean_family",
    oracle="""
    WITH v AS (
        SELECT event_type, value FROM events WHERE value > 0
    )
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(value), 4) AS arithmetic_mean,
           ROUND(EXP(AVG(LN(value))), 4) AS geometric_mean,
           ROUND(COUNT(*) / SUM(1.0 / value), 4) AS harmonic_mean
    FROM v GROUP BY event_type
    """,
)
def agg_mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean mean family per group: arithmetic, geometric
    (exp∘mean∘ln — the right average for ratios/growth rates), harmonic
    (the right average for rates) — with the AM ≥ GM ≥ HM ordering pinned
    in pytest. Completes the location-statistics set next to
    median/mode/winsorized/MAD.

    Determinism: AVG(LN(v)) and SUM(1/v) are double sums — 4dp rounding
    sits ~8 orders above the accumulation-order noise on this data (the
    agg_corr_covar precedent); values are strictly positive by filter.

    Scale shape: all three are single-pass algebraic aggregates with
    map-side partials."""
    e = table(spark, sf_dir, "events").where(F.col("value") > 0)
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("arithmetic_mean"),
        F.round(F.exp(F.avg(F.log("value"))), 4).alias("geometric_mean"),
        F.round(F.count("*") / F.sum(1.0 / F.col("value")), 4).alias("harmonic_mean"),
    )


@query(
    "sql_lateral_join",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           t.l_linenumber,
           ROUND(t.l_extendedprice, 2) AS price
    FROM orders o,
    LATERAL (
        SELECT l_linenumber, l_extendedprice
        FROM lineitem
        WHERE l_orderkey = o.o_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber
        LIMIT 2
    ) t
    WHERE o.o_orderkey < 2000
    """,
)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL correlated subquery (Spark 4 supports LATERAL in the
    string API): for each order, its top-2 lineitems by price — the
    per-row-subquery formulation users port from warehouses. Catalyst
    decorrelates it into the same join + per-key group-limit plan the
    DataFrame topk_per_group builds explicitly, which is exactly why the
    string surface is safe to accept at scale.

    Scale shape: decorrelated to one keyed join + WindowGroupLimit —
    never a per-row re-scan of lineitem."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_orderstatus,
               t.l_linenumber,
               ROUND(t.l_extendedprice, 2) AS price
        FROM v_orders o,
        LATERAL (
            SELECT l_linenumber, l_extendedprice
            FROM v_lineitem
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber
            LIMIT 2
        ) t
        WHERE o.o_orderkey < 2000
        """
    )
