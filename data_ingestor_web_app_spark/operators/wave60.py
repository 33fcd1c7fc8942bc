"""Wave-60: native recursive CTE (Spark 4 WITH RECURSIVE), SQL pipe
syntax, hash-noise Laplace mechanism demo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE spine(m) AS (
        SELECT 1995 * 12 + 0
        UNION ALL
        SELECT m + 1 FROM spine WHERE m < 2001 * 12 + 11
    ),
    rev AS (
        SELECT YEAR(l_shipdate) * 12 + (MONTH(l_shipdate) - 1) AS m,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(spine.m // 12 AS INT) AS yr,
           CAST(spine.m % 12 + 1 AS INT) AS mth,
           CAST(COALESCE(rev.cents, 0) AS BIGINT) AS cents,
           CAST(rev.m IS NULL AS BOOLEAN) AS is_gap
    FROM spine LEFT JOIN rev ON rev.m = spine.m
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4.0, SPARK-24497, public): the
    recursive CTE generates the complete 1995-01..2001-12 month spine
    and a left join exposes zero-revenue gap months — the classic
    recursion-for-completeness idiom (calendar spines, hierarchies,
    transitive closure) that previously required operators/recursive.py's
    manual unrolling. Same recursion in the DuckDB oracle.

    Scale shape: the recursion materializes 84 spine rows on the driver
    side of the plan; the fact table collapses to per-month partials in
    one map-side-combined groupBy before the tiny join."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_w60")
    return spark.sql(
        """
        WITH RECURSIVE spine(m) AS (
            SELECT 1995 * 12 + 0
            UNION ALL
            SELECT m + 1 FROM spine WHERE m < 2001 * 12 + 11
        ),
        rev AS (
            SELECT YEAR(l_shipdate) * 12 + (MONTH(l_shipdate) - 1) AS m,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM v_lineitem_w60 GROUP BY 1
        )
        SELECT CAST(spine.m DIV 12 AS INT) AS yr,
               CAST(spine.m % 12 + 1 AS INT) AS mth,
               CAST(COALESCE(rev.cents, 0) AS BIGINT) AS cents,
               CAST(rev.m IS NULL AS BOOLEAN) AS is_gap
        FROM spine LEFT JOIN rev ON rev.m = spine.m
        """
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_urgentish,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    WHERE o_orderstatus = 'O' AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 |> operator chain, public — the
    GoogleSQL-style linear composition): FROM ... |> WHERE ... |>
    AGGREGATE ... GROUP BY, reading top-to-bottom like the DataFrame
    DSL while staying a SQL string. Compiles to the identical Catalyst
    plan as the classic formulation the oracle uses.

    Scale shape: pushed filter + partial/final hash aggregate —
    agg_groupby's plan."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_w60")
    return spark.sql(
        """
        FROM v_orders_w60
        |> WHERE o_orderstatus = 'O'
               AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |> AGGREGATE COUNT(*) AS n_urgentish,
                     CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                         AS cents
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_urgentish, cents
        """
    )


@query(
    "privacy_dp_laplace_hashnoise",
    oracle="""
    WITH per AS (
        SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    ),
    noise AS (
        SELECT nation, true_n,
               (CAST('0x' || SUBSTR(MD5('dp:' || nation), 1, 8) AS BIGINT) + 0.5)
                   / 4294967296.0 - 0.5 AS uc
        FROM per
    )
    SELECT nation,
           ROUND(true_n + (-2.0) * SIGN(uc) * LN(1 - 2 * ABS(uc)), 4)
               AS n_noised,
           ROUND((-2.0) * SIGN(uc) * LN(1 - 2 * ABS(uc)), 4) AS noise
    FROM noise
    """,
)
def privacy_dp_laplace_hashnoise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace mechanism demo (Dwork et al. 2006, public) for
    epsilon=0.5 differentially-private counts per nation: noise is
    drawn by inverse-CDF from a DETERMINISTIC md5-uniform so the
    release is reproducible and hash-checkable — a production release
    would use a cryptographic RNG (determinism here is a test harness
    property, not a DP property; the mechanism arithmetic is what this
    operator pins). Sensitivity 1, b = 1/eps = 2.

    Determinism: the uniform is an exact integer ratio; SIGN/ABS/LN of
    bit-identical doubles agree across engines, rounded at 4dp.

    Scale shape: broadcast nation dim, one map-side-combined count,
    per-row noise arithmetic on a 25-row aggregate."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    per = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").cast("long").alias("true_n"))
    )
    uc = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp:"), F.col("nation"))), 1, 8), 16, 10)
        .cast("long")
        + 0.5
    ) / 4294967296.0 - 0.5
    noise = (-2.0) * F.signum(uc) * F.log(1 - 2 * F.abs(uc))
    return per.select(
        "nation",
        F.round(F.col("true_n") + noise, 4).alias("n_noised"),
        F.round(noise, 4).alias("noise"),
    )
