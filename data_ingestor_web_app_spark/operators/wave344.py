"""Wave-344: single-machine scheduling rules — Jackson's
earliest-due-date rule for maximum lateness (Jackson 1955) and
Smith's WSPT ratio rule for weighted completion time (Smith, NRLQ
1956) — plus Vickrey second-price auctions (Vickrey, J. Finance
1961).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# jobs = January-1998 orders: processing minutes from the price, due
# dates in minutes from the month start (key-mixed, deterministic).
_JOBS_SQL = """
    jobs AS (
        SELECT o_orderkey AS job,
               CAST(1 + CAST(ROUND(o_totalprice * 100) AS BIGINT) % 240
                    AS BIGINT) AS p,
               CAST(500 + (o_orderkey * 37) % 20000 AS BIGINT) AS due,
               CAST(1 + o_orderkey % 5 AS BIGINT) AS w
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) = 1998
          AND EXTRACT(month FROM o_orderdate) = 1
    )
"""


def _jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(
        (F.year("o_orderdate") == 1998) & (F.month("o_orderdate") == 1)
    )
    return o.select(
        F.col("o_orderkey").alias("job"),
        (1 + F.round(F.col("o_totalprice") * 100).cast("long") % 240)
        .cast("long")
        .alias("p"),
        (500 + (F.col("o_orderkey") * 37) % 20000).cast("long").alias("due"),
        (1 + F.col("o_orderkey") % 5).cast("long").alias("w"),
    )


@query(
    "opt_edd_max_lateness",
    oracle=f"""
    WITH {_JOBS_SQL},
    sched AS (
        SELECT job, p, due,
               CAST(SUM(p) OVER (ORDER BY due, job
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS completion
        FROM jobs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_jobs,
           CAST(MAX(completion) AS BIGINT) AS makespan,
           CAST(MAX(completion - due) AS BIGINT) AS max_lateness,
           CAST(SUM(CASE WHEN completion > due THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tardy,
           CAST(SUM(GREATEST(completion - due, 0)) AS BIGINT)
               AS total_tardiness
    FROM sched
    """,
)
def opt_edd_max_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackson's earliest-due-date rule (1955): sequencing by due date
    PROVABLY minimizes maximum lateness on one machine (the exchange
    argument classic). Completion times are the prefix sums of
    processing times in (due, job) order; reports makespan, the
    optimal L_max, tardy count, and total tardiness (the latter two
    are NOT optimized by EDD — the pedagogical contrast with
    Moore-Hodgson and WSPT).

    Determinism: processing times/due dates are exact key-mixed
    integers; the schedule order is total; prefix sums are exact.

    Scale shape: one filtered scan, one ordered prefix sum over the
    month's job frame (the sharded-prefix shape at real scale), one
    closing aggregate."""
    from data_ingestor_web_app_spark.operators.rank_utils import (
        global_row_index,
    )

    jobs = _jobs(spark, sf_dir)
    # sharded prefix sum in (due, job) order: rank via the due-grid,
    # then cumulative p by index-range join against shard offsets
    idx = global_row_index(jobs, "due", "job", index_col="i")
    shard = idx.withColumn("sh", (F.col("i") / 4096).cast("long"))
    w_in = Window.partitionBy("sh").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    offs = shard.groupBy("sh").agg(F.sum("p").alias("stot"))
    w_off = Window.orderBy("sh").rowsBetween(Window.unboundedPreceding, -1)
    offs = offs.select(
        "sh", F.coalesce(F.sum("stot").over(w_off), F.lit(0)).alias("off")
    )
    sched = shard.join(F.broadcast(offs), "sh").withColumn(
        "completion", (F.sum("p").over(w_in) + F.col("off")).cast("long")
    )
    late = F.col("completion") - F.col("due")
    return sched.agg(
        F.count("*").cast("long").alias("n_jobs"),
        F.max("completion").cast("long").alias("makespan"),
        F.max(late).cast("long").alias("max_lateness"),
        F.sum(F.when(late > 0, 1).otherwise(0)).cast("long").alias("n_tardy"),
        F.sum(F.greatest(late, F.lit(0))).cast("long").alias(
            "total_tardiness"
        ),
    )


@query(
    "opt_wspt_smith_rule",
    oracle=f"""
    WITH {_JOBS_SQL},
    sched AS (
        SELECT job, p, w,
               CAST(SUM(p) OVER (ORDER BY p * 1000000 // w, job
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS completion
        FROM jobs
    ),
    spt AS (
        SELECT CAST(SUM(w * completion) AS BIGINT) AS obj FROM sched
    ),
    fifo AS (
        SELECT CAST(SUM(w * completion) AS BIGINT) AS obj FROM (
            SELECT w, CAST(SUM(p) OVER (ORDER BY job
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS completion
            FROM jobs
        )
    )
    SELECT CAST((SELECT COUNT(*) FROM jobs) AS BIGINT) AS n_jobs,
           spt.obj AS wspt_weighted_completion,
           fifo.obj AS fifo_weighted_completion,
           ROUND(CAST(fifo.obj AS DOUBLE) / spt.obj, 6) AS fifo_ratio
    FROM spt, fifo
    """,
)
def opt_wspt_smith_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smith's ratio rule (NRLQ 1956): sequencing by p/w ascending
    PROVABLY minimizes Σw·C on one machine. The sort key is the exact
    integer p·10⁶ // w (no float ratios — ties then break by job id),
    and the FIFO schedule's objective is reported alongside: the ratio
    column is the price of ignoring the rule.

    Determinism: exact integer keys, prefix sums, and objectives; one
    closing ratio rounded 6dp.

    Scale shape: two ordered prefix sums over the month frame (the
    WSPT order and arrival order), each the sharded-prefix shape at
    scale; objectives are partial-agg sums."""
    from data_ingestor_web_app_spark.operators.rank_utils import (
        global_row_index,
    )

    jobs = _jobs(spark, sf_dir).withColumn(
        "ratio_key", (F.col("p") * 1000000 / F.col("w")).cast("long")
    )

    def sharded_completion(df, value_col, tiebreak):
        idx = global_row_index(df, value_col, tiebreak, index_col="i")
        sh = idx.withColumn("sh", (F.col("i") / 4096).cast("long"))
        w_in = Window.partitionBy("sh").orderBy("i").rowsBetween(
            Window.unboundedPreceding, 0
        )
        offs = sh.groupBy("sh").agg(F.sum("p").alias("stot"))
        w_off = Window.orderBy("sh").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offs = offs.select(
            "sh",
            F.coalesce(F.sum("stot").over(w_off), F.lit(0)).alias("off"),
        )
        return sh.join(F.broadcast(offs), "sh").withColumn(
            "completion", (F.sum("p").over(w_in) + F.col("off")).cast("long")
        )

    wspt = sharded_completion(jobs, "ratio_key", "job")
    fifo = sharded_completion(jobs.drop("ratio_key"), "job", "job")
    spt_obj = wspt.agg(
        F.sum(F.col("w") * F.col("completion")).cast("long").alias("obj")
    )
    fifo_obj = fifo.agg(
        F.sum(F.col("w") * F.col("completion")).cast("long").alias("obj2")
    )
    n = jobs.agg(F.count("*").cast("long").alias("n_jobs"))
    return (
        n.crossJoin(F.broadcast(spt_obj))
        .crossJoin(F.broadcast(fifo_obj))
        .select(
            "n_jobs",
            F.col("obj").alias("wspt_weighted_completion"),
            F.col("obj2").alias("fifo_weighted_completion"),
            F.round(
                F.col("obj2").cast("double") / F.col("obj"), 6
            ).alias("fifo_ratio"),
        )
    )


@query(
    "model_vickrey_second_price",
    oracle="""
    WITH bids AS (
        SELECT l_partkey AS lot, l_suppkey AS bidder,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS bid,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    ranked AS (
        SELECT lot, bidder, bid,
               ROW_NUMBER() OVER (PARTITION BY lot
                   ORDER BY bid DESC, l_orderkey, l_linenumber) AS rk,
               COUNT(*) OVER (PARTITION BY lot) AS n_bids
        FROM bids
    ),
    lots AS (
        SELECT lot, CAST(MAX(n_bids) AS BIGINT) AS n_bids,
               MAX(CASE WHEN rk = 1 THEN bidder END) AS winner,
               MAX(CASE WHEN rk = 1 THEN bid END) AS top_bid,
               MAX(CASE WHEN rk = 2 THEN bid END) AS second_bid
        FROM ranked GROUP BY lot HAVING MAX(n_bids) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_auctions,
           CAST(SUM(n_bids) AS BIGINT) AS n_bids,
           ROUND(SUM(top_bid) / 100.0, 2) AS first_price_revenue,
           ROUND(SUM(second_bid) / 100.0, 2) AS vickrey_revenue,
           ROUND(CAST(SUM(second_bid) AS DOUBLE) / SUM(top_bid), 6)
               AS revenue_ratio,
           ROUND((CAST(SUM(top_bid) AS DOUBLE) - SUM(second_bid))
                 / COUNT(*) / 100.0, 6) AS mean_winner_surplus
    FROM lots
    """,
)
def model_vickrey_second_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vickrey second-price sealed-bid auctions (J. Finance 1961):
    each part is a lot, its lineitems are bids; the top bidder wins at
    the SECOND-highest price — truthful bidding is dominant, and the
    winner's surplus is the bid gap. Reports aggregate first-price vs
    Vickrey revenue (the empirical face of the revenue-equivalence
    theorem) over lots with ≥2 bids.

    Determinism: bids are exact cents; the within-lot rank has an
    (l_orderkey, l_linenumber) total order; sums are exact integers.

    Scale shape: ONE partitioned window keyed by the lot (per-lot
    groups, never corpus-wide), then a partial-agg fold."""
    bids = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("lot"),
        F.col("l_suppkey").alias("bidder"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("bid"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("lot").orderBy(
        F.col("bid").desc(), "l_orderkey", "l_linenumber"
    )
    ranked = bids.select(
        "lot",
        "bidder",
        "bid",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("lot")).alias("n_bids"),
    )
    lots = (
        ranked.groupBy("lot")
        .agg(
            F.max("n_bids").cast("long").alias("n_bids"),
            F.max(F.when(F.col("rk") == 1, F.col("bidder"))).alias("winner"),
            F.max(F.when(F.col("rk") == 1, F.col("bid"))).alias("top_bid"),
            F.max(F.when(F.col("rk") == 2, F.col("bid"))).alias("second_bid"),
        )
        .where(F.col("n_bids") >= 2)
    )
    return lots.agg(
        F.count("*").cast("long").alias("n_auctions"),
        F.sum("n_bids").cast("long").alias("n_bids"),
        F.round(F.sum("top_bid") / 100.0, 2).alias("first_price_revenue"),
        F.round(F.sum("second_bid") / 100.0, 2).alias("vickrey_revenue"),
        F.round(
            F.sum("second_bid").cast("double") / F.sum("top_bid"), 6
        ).alias("revenue_ratio"),
        F.round(
            (F.sum("top_bid").cast("double") - F.sum("second_bid"))
            / F.count("*")
            / 100.0,
            6,
        ).alias("mean_winner_surplus"),
    )
