"""Wave-172: warehouse classics — ABC-XYZ inventory classification, SCD
Type 3 previous-value dimensions, and the price-volume-mix revenue
bridge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "inventory_abc_xyz",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               STDDEV_POP(l_quantity) / AVG(l_quantity) AS cv
        FROM lineitem GROUP BY l_partkey
        HAVING COUNT(*) >= 2
    ),
    ranked AS (
        SELECT l_partkey, revenue, cv,
               SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey)
                   / SUM(revenue) OVER () AS cum_share
        FROM per_part
    ),
    classed AS (
        SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                    WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc,
               CASE WHEN cv <= 0.3 THEN 'X'
                    WHEN cv <= 0.6 THEN 'Y' ELSE 'Z' END AS xyz,
               revenue
        FROM ranked
    )
    SELECT abc, xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(revenue), 2) AS revenue
    FROM classed GROUP BY abc, xyz
    """,
)
def inventory_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification (Pareto ABC x demand-variability
    XYZ — operations-management folklore, public): parts are A/B/C by
    cumulative revenue share (80/95 cuts on the revenue-ranked cumsum)
    and X/Y/Z by quantity coefficient of variation (0.3/0.6 cuts) — the
    9-cell matrix that decides stocking policy (AX = automate, CZ =
    make-to-order). Emits the matrix with part counts and revenue mass.

    Determinism: the cumulative share window has a total order (revenue
    DESC, partkey); CV is one moment ratio; bucket edges compared on
    unrounded doubles (cuts sit far from any part's exact share on this
    fixture).

    Scale shape: one per-part aggregation, one ranked cumsum window over
    parts (the classic Pareto scan), a 9-row result."""
    li = table(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            (F.stddev_pop("l_quantity") / F.avg("l_quantity")).alias("cv"),
            F.count("*").alias("n"),
        )
        .where(F.col("n") >= 2)
    )
    w_cum = Window.orderBy(F.col("revenue").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = per_part.select(
        "l_partkey",
        "revenue",
        "cv",
        (F.sum("revenue").over(w_cum) / F.sum("revenue").over(w_all)).alias("cum_share"),
    )
    classed = ranked.select(
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("cv") <= 0.3, "X")
        .when(F.col("cv") <= 0.6, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "revenue",
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(F.sum("revenue"), 2).alias("revenue"),
    )


@query(
    "upsert_scd3_previous",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                   AS rk
        FROM orders
    )
    SELECT c.o_custkey AS custkey,
           c.o_orderstatus AS current_status,
           p.o_orderstatus AS previous_status,
           CAST(c.o_orderdate AS VARCHAR) AS effective_date,
           c.o_orderstatus IS DISTINCT FROM p.o_orderstatus AS status_changed
    FROM ranked c
    LEFT JOIN ranked p ON p.o_custkey = c.o_custkey AND p.rk = 2
    WHERE c.rk = 1
    """,
)
def upsert_scd3_previous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing dimension Type 3 (Kimball, public): the dimension
    row carries the CURRENT attribute value plus one PREVIOUS-value
    column — limited history, zero row growth, the right choice when
    only "what changed in the last transition" matters (vs Type 1's
    overwrite = upsert_scd1 and Type 2's full history =
    upsert_scd2_history, completing the engine's SCD trio). Built from
    each customer's two latest orders by (date, orderkey) rank.

    Determinism: total-order rank; the change flag is null-safe
    (IS DISTINCT FROM <-> eqNullSafe negation) so single-order customers
    read as changed-from-nothing in both engines identically.

    Scale shape: one rank window partitioned by the dimension key; the
    rk=1/rk=2 self-join is per-key and tiny."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    ranked = o.select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
        F.row_number().over(w).alias("rk"),
    )
    cur = ranked.where(F.col("rk") == 1).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("current_status"),
        F.col("o_orderdate").alias("effective_date_raw"),
    )
    prev = ranked.where(F.col("rk") == 2).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("previous_status"),
    )
    return cur.join(prev, "custkey", "left").select(
        "custkey",
        "current_status",
        "previous_status",
        F.col("effective_date_raw").cast("string").alias("effective_date"),
        (~F.col("current_status").eqNullSafe(F.col("previous_status"))).alias(
            "status_changed"
        ),
    )


@query(
    "warehouse_price_volume_mix",
    oracle="""
    WITH yr AS (
        SELECT l_partkey,
               CAST(YEAR(l_shipdate) AS INTEGER) AS y,
               SUM(l_quantity) AS q,
               SUM(l_extendedprice * (1 - l_discount)) / SUM(l_quantity) AS p
        FROM lineitem
        WHERE YEAR(l_shipdate) IN (1996, 1997)
        GROUP BY l_partkey, YEAR(l_shipdate)
    ),
    both_yrs AS (
        SELECT a.l_partkey, a.q AS q0, a.p AS p0, b.q AS q1, b.p AS p1
        FROM yr a JOIN yr b ON b.l_partkey = a.l_partkey
        WHERE a.y = 1996 AND b.y = 1997
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(q0 * p0), 2) AS revenue_base,
           ROUND(SUM(q1 * p1), 2) AS revenue_curr,
           ROUND(SUM((p1 - p0) * q0), 2) AS price_effect,
           ROUND(SUM((q1 - q0) * p0), 2) AS volume_effect,
           ROUND(SUM((p1 - p0) * (q1 - q0)), 2) AS mix_effect,
           ROUND(SUM(q1 * p1) - SUM(q0 * p0)
                 - (SUM((p1 - p0) * q0) + SUM((q1 - q0) * p0)
                    + SUM((p1 - p0) * (q1 - q0))), 2) AS bridge_residual
    FROM both_yrs
    """,
)
def warehouse_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge (FP&A folklore, public): decompose
    the 1996→1997 revenue change per part into price effect Δp·q₀,
    volume effect Δq·p₀, and the mix/cross term Δp·Δq — an EXACT
    decomposition (the residual column, rounded at cents where the
    fold-order noise of ~1e-6 on 1e8-scale sums vanishes, proves it sums
    to the revenue
    delta, ~0 up to float rounding). The bridge every revenue review is
    built around, here over parts shipped in both years with realized
    unit price = discounted revenue / quantity.

    Determinism: per-part year aggregates are single sums; the bridge is
    one pass of fixed chains; ROUND 2/6.

    Scale shape: one grouped pass per (part, year), a per-part
    self-join on the year pair, one final all-reduce."""
    li = table(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate").isin(1996, 1997)
    )
    yr = li.groupBy("l_partkey", F.year("l_shipdate").alias("y")).agg(
        F.sum("l_quantity").alias("q"),
        (
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            / F.sum("l_quantity")
        ).alias("p"),
    )
    a = yr.where(F.col("y") == 1996).select(
        "l_partkey", F.col("q").alias("q0"), F.col("p").alias("p0")
    )
    b = yr.where(F.col("y") == 1997).select(
        "l_partkey", F.col("q").alias("q1"), F.col("p").alias("p1")
    )
    both = a.join(b, "l_partkey")
    price = F.sum((F.col("p1") - F.col("p0")) * F.col("q0"))
    volume = F.sum((F.col("q1") - F.col("q0")) * F.col("p0"))
    mix = F.sum((F.col("p1") - F.col("p0")) * (F.col("q1") - F.col("q0")))
    rev0 = F.sum(F.col("q0") * F.col("p0"))
    rev1 = F.sum(F.col("q1") * F.col("p1"))
    return both.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(rev0, 2).alias("revenue_base"),
        F.round(rev1, 2).alias("revenue_curr"),
        F.round(price, 2).alias("price_effect"),
        F.round(volume, 2).alias("volume_effect"),
        F.round(mix, 2).alias("mix_effect"),
        F.round(rev1 - rev0 - (price + volume + mix), 2).alias("bridge_residual"),
    )
