"""Wave-78: one EM step of a two-component 1-D Gaussian mixture,
null-aware NOT IN semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Fixed EM initialization (dollars): two components straddling the
# order-value bulk; literal so both engines iterate from the same point.
_MU1, _MU2 = 50000.0, 200000.0
_SD = 80000.0  # shared initial sigma
_W1 = 0.5


@query(
    "model_gmm_em_step",
    oracle="""
    WITH x AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100.0 AS v
        FROM orders
    ),
    resp AS (
        SELECT v,
               (0.5 * EXP(-(v - 50000.0) * (v - 50000.0)
                          / (2 * 80000.0 * 80000.0)))
               / (0.5 * EXP(-(v - 50000.0) * (v - 50000.0)
                            / (2 * 80000.0 * 80000.0))
                  + 0.5 * EXP(-(v - 200000.0) * (v - 200000.0)
                              / (2 * 80000.0 * 80000.0))) AS r1
        FROM x
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(r1) / COUNT(*), 6) AS weight_1,
           ROUND(SUM(r1 * v) / SUM(r1), 4) AS mu_1,
           ROUND(SUM((1 - r1) * v) / SUM(1 - r1), 4) AS mu_2,
           ROUND(SQRT(SUM(r1 * v * v) / SUM(r1)
                      - (SUM(r1 * v) / SUM(r1)) * (SUM(r1 * v) / SUM(r1))), 4)
               AS sigma_1
    FROM resp
    """,
)
def model_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM step (Dempster-Laird-Rubin 1977, public) of a
    two-component 1-D Gaussian mixture over order values from a fixed
    literal initialization: E-step responsibilities via the Gaussian
    density ratio, M-step re-estimates the weight, both means and the
    first component's sigma — the customer-segmentation workhorse
    ('is spend bimodal?') expressed as two aggregation passes, which is
    exactly how distributed EM iterates at scale (responsibilities are
    a projection; sufficient statistics are map-side-combined sums).

    Determinism: v is exact cents /100; responsibilities are one fixed
    EXP formula; weighted sums accumulate doubles whose 1e-16-relative
    noise sits far under the 4-6dp rounding.

    Scale shape: one projection + one global aggregate of five
    sufficient statistics — no shuffle beyond partials; K components
    add columns, not passes."""
    o = table(spark, sf_dir, "orders")
    v = (F.round(F.col("o_totalprice") * 100).cast("long") / 100.0).alias("v")
    x = o.select(v)
    d1 = F.exp(-(F.col("v") - _MU1) * (F.col("v") - _MU1) / (2 * _SD * _SD))
    d2 = F.exp(-(F.col("v") - _MU2) * (F.col("v") - _MU2) / (2 * _SD * _SD))
    r1 = (_W1 * d1) / (_W1 * d1 + (1 - _W1) * d2)
    resp = x.select("v", r1.alias("r1"))
    stats = resp.agg(
        F.count("*").alias("n"),
        F.sum("r1").alias("sr"),
        F.sum(F.col("r1") * F.col("v")).alias("srv"),
        F.sum((1 - F.col("r1")) * F.col("v")).alias("s2v"),
        F.sum(1 - F.col("r1")).alias("s2"),
        F.sum(F.col("r1") * F.col("v") * F.col("v")).alias("srvv"),
    )
    mu1 = F.col("srv") / F.col("sr")
    return stats.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sr") / F.col("n"), 6).alias("weight_1"),
        F.round(mu1, 4).alias("mu_1"),
        F.round(F.col("s2v") / F.col("s2"), 4).alias("mu_2"),
        F.round(F.sqrt(F.col("srvv") / F.col("sr") - mu1 * mu1), 4).alias("sigma_1"),
    )


@query(
    "join_not_in_null_semantics",
    oracle="""
    WITH probe AS (
        SELECT c_custkey FROM customer
    ),
    clean_list AS (
        SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    null_list AS (
        SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL SELECT NULL
    )
    SELECT 'not_in_clean' AS variant,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
            WHERE c_custkey NOT IN (SELECT k FROM clean_list)) AS n_rows
    UNION ALL
    SELECT 'not_in_with_null',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
            WHERE c_custkey NOT IN (SELECT k FROM null_list))
    UNION ALL
    SELECT 'anti_join',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
            WHERE NOT EXISTS (SELECT 1 FROM null_list n
                              WHERE n.k = probe.c_custkey))
    """,
)
def join_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs NOT EXISTS under NULLs — the classic three-valued-logic
    trap, pinned: a single NULL in the NOT IN subquery annihilates the
    whole result (x <> NULL is UNKNOWN for every x), while NOT EXISTS /
    left_anti keeps matching rows. Catalyst compiles the NULL-tainted
    variant to a null-aware anti join (BroadcastNestedLoopJoin-backed)
    precisely because of this semantic — the row counts prove all three
    behaviors.

    Scale shape: the clean variant is an ordinary anti join on the key;
    the null-aware variant is the expensive plan — which is the
    operational lesson: sanitize NULLs out of NOT IN lists upstream."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("v_probe_w78")
    o.createOrReplaceTempView("v_orders_w78")
    return spark.sql(
        """
        WITH clean_list AS (
            SELECT o_custkey AS k FROM v_orders_w78
            WHERE o_orderpriority = '1-URGENT'
        ),
        null_list AS (
            SELECT o_custkey AS k FROM v_orders_w78
            WHERE o_orderpriority = '1-URGENT'
            UNION ALL SELECT CAST(NULL AS BIGINT)
        )
        SELECT 'not_in_clean' AS variant,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM v_probe_w78
                WHERE c_custkey NOT IN (SELECT k FROM clean_list)) AS n_rows
        UNION ALL
        SELECT 'not_in_with_null',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM v_probe_w78
                WHERE c_custkey NOT IN (SELECT k FROM null_list))
        UNION ALL
        SELECT 'anti_join',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM v_probe_w78 p
                WHERE NOT EXISTS (SELECT 1 FROM null_list n
                                  WHERE n.k = p.c_custkey))
        """
    )
