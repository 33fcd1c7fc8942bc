"""Wave-184: classic dynamic programming as distributed folds — weighted
interval scheduling and 0/1 knapsack. Each key's DP runs as ONE
array-state fold inside its partition (the engine-wide ordered-fold
pattern), with DuckDB recursive-CTE twins carrying the identical DP
table so every cell is hash-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "opt_weighted_interval_scheduling",
    oracle="""
    WITH RECURSIVE iv AS (
        SELECT o_custkey AS k,
               CAST(o_orderdate AS DATE) AS s,
               CAST(o_orderdate AS DATE)
                   + CAST(o_orderkey % 7 + 1 AS INT) AS e,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w,
               o_orderkey
        FROM orders
    ),
    idx0 AS (
        SELECT k, s, e, w,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY e, s, o_orderkey)
                   AS rn
        FROM iv
    ),
    idx AS (
        SELECT a.k, a.rn, a.w,
               CAST(COALESCE(MAX(b.rn), 0) AS BIGINT) AS p
        FROM idx0 a
        LEFT JOIN idx0 b ON b.k = a.k AND b.e <= a.s
        GROUP BY a.k, a.rn, a.w
    ),
    dp(k, rn, f) AS (
        SELECT k, 0, [CAST(0 AS BIGINT)] FROM (SELECT DISTINCT k FROM idx)
        UNION ALL
        SELECT i.k, i.rn,
               LIST_APPEND(d.f,
                   GREATEST(d.f[CAST(d.rn + 1 AS INT)],
                            d.f[CAST(i.p + 1 AS INT)] + i.w))
        FROM dp d JOIN idx i ON i.k = d.k AND i.rn = d.rn + 1
    ),
    last AS (
        SELECT k, f FROM dp
        QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY rn DESC) = 1
    )
    SELECT l.k AS c_custkey,
           CAST(LEN(l.f) - 1 AS BIGINT) AS n_intervals,
           CAST(l.f[CAST(LEN(l.f) AS INT)] AS BIGINT) AS best_weight_cents
    FROM last l
    """,
)
def opt_weighted_interval_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted interval scheduling per customer, solved exactly: each
    order spans [orderdate, orderdate + 1..7 days] with weight = its
    total in cents; the classic DP f(i) = max(f(i-1), w_i + f(p(i)))
    over intervals sorted by end time (p(i) = last interval ending at or
    before i's start) yields the maximum-weight non-overlapping subset —
    the canonical scheduling/auction-winner primitive.

    Determinism: interval endpoints, weights, predecessor indices, and
    every DP cell are exact integers; the interval order carries a full
    tie-break (end, start, orderkey); the Spark fold and the DuckDB
    recursive CTE build the IDENTICAL f-table, so the hash check verifies
    the whole DP trajectory, not just the optimum.

    Scale shape: one shuffle keyed on customer; p(i) comes from a
    key-local banded join (per-customer interval counts are bounded);
    the DP is an array fold inside the partition — state is O(intervals
    per key), never global."""
    o = table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 7 + 1).cast("int"),
        ).alias("e"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("w"),
        "o_orderkey",
    )
    wn = Window.partitionBy("k").orderBy("e", "s", "o_orderkey")
    idx0 = iv.select("k", "s", "e", "w", F.row_number().over(wn).alias("rn"))
    a, b = idx0.alias("a"), idx0.alias("b")
    idx = (
        a.join(
            b,
            (F.col("b.k") == F.col("a.k")) & (F.col("b.e") <= F.col("a.s")),
            "left",
        )
        .groupBy(F.col("a.k").alias("k"), F.col("a.rn").alias("rn"), F.col("a.w").alias("w"))
        .agg(F.coalesce(F.max("b.rn"), F.lit(0)).cast("long").alias("p"))
    )
    seq = idx.groupBy("k").agg(
        F.sort_array(F.collect_list(F.struct("rn", "w", "p"))).alias("seq")
    )
    fold = (
        "aggregate(seq, array(cast(0 as bigint)), "
        "(acc, e) -> array_append(acc, "
        "greatest(element_at(acc, size(acc)), "
        "element_at(acc, cast(e.p + 1 as int)) + e.w)))"
    )
    return seq.select(
        F.col("k").alias("c_custkey"),
        F.size("seq").cast("long").alias("n_intervals"),
        F.expr(f"element_at({fold}, size(seq) + 1)").cast("long").alias("best_weight_cents"),
    )


_CAP = 100  # knapsack capacity in quantity units


@query(
    "opt_knapsack_01",
    oracle=f"""
    WITH RECURSIVE items AS (
        SELECT l_suppkey AS k,
               CAST(l_quantity AS BIGINT) AS w,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY l_orderkey, l_linenumber,
                                           l_extendedprice, l_quantity) AS rn
        FROM lineitem WHERE l_orderkey % 19 = 0
    ),
    dp(k, rn, f) AS (
        SELECT k, 0,
               LIST_TRANSFORM(RANGE({_CAP} + 1), j -> CAST(0 AS BIGINT))
        FROM (SELECT DISTINCT k FROM items)
        UNION ALL
        SELECT i.k, i.rn,
               LIST_TRANSFORM(RANGE({_CAP} + 1),
                   j -> CASE WHEN j >= i.w
                             THEN GREATEST(d.f[CAST(j + 1 AS INT)],
                                           d.f[CAST(j - i.w + 1 AS INT)] + i.v)
                             ELSE d.f[CAST(j + 1 AS INT)] END)
        FROM dp d JOIN items i ON i.k = d.k AND i.rn = d.rn + 1
    ),
    last AS (
        SELECT k, rn, f FROM dp
        QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY rn DESC) = 1
    )
    SELECT k AS s_suppkey,
           CAST(rn AS BIGINT) AS n_items,
           CAST(f[{_CAP + 1}] AS BIGINT) AS best_value_cents,
           CAST(f[{_CAP // 2 + 1}] AS BIGINT) AS best_value_halfcap_cents
    FROM last
    """,
)
def opt_knapsack_01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """0/1 knapsack per supplier: from a sampled order subset, each
    lineitem is an item (weight = quantity, value = price in cents); the
    DP over capacity {_CAP} computes the maximum value packable — the
    primitive behind shipment consolidation and budgeted selection. The
    half-capacity optimum rides along for free from the same DP row
    (any prefix of the capacity axis is a valid answer), which is the
    practical reason to keep the full DP vector rather than a scalar.

    Determinism: weights and values are exact integers; items carry a
    total order; both engines build the identical (cap+1)-wide DP vector
    per item step (Spark: nested transform inside an array fold; DuckDB:
    LIST_TRANSFORM inside a recursive CTE).

    Scale shape: one shuffle keyed on supplier; per-key work is
    O(items x cap) inside the partition with O(cap) state — the sampled
    item count keeps the fixture fast, and at 100 TB the capacity axis
    (not the corpus) bounds the fold state."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 19 == 0)
    wn = Window.partitionBy("l_suppkey").orderBy(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )
    items = li.select(
        F.col("l_suppkey").alias("k"),
        F.col("l_quantity").cast("long").alias("w"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.row_number().over(wn).alias("rn"),
    )
    seq = items.groupBy("k").agg(
        F.sort_array(F.collect_list(F.struct("rn", "w", "v"))).alias("seq")
    )
    fold = (
        f"aggregate(seq, "
        f"transform(sequence(0, {_CAP}), j -> cast(0 as bigint)), "
        f"(acc, e) -> transform(sequence(0, {_CAP}), "
        f"j -> IF(j >= e.w, "
        f"greatest(element_at(acc, j + 1), "
        f"element_at(acc, cast(j - e.w + 1 as int)) + e.v), "
        f"element_at(acc, j + 1))))"
    )
    return seq.select(
        F.col("k").alias("s_suppkey"),
        F.size("seq").cast("long").alias("n_items"),
        F.expr(f"element_at({fold}, {_CAP + 1})").cast("long").alias("best_value_cents"),
        F.expr(f"element_at({fold}, {_CAP // 2 + 1})")
        .cast("long")
        .alias("best_value_halfcap_cents"),
    )
