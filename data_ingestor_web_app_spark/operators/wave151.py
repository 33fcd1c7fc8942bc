"""Wave-151: classic optimization rules — greedy fractional knapsack,
SPT scheduling, and Johnson's two-machine flow shop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_KNAP_W = 100  # capacity in size units


@query(
    "opt_fractional_knapsack",
    oracle=f"""
    WITH items AS (
        SELECT p_partkey,
               CAST(ROUND(p_retailprice * 100) AS BIGINT) AS v_cents,
               CAST(p_size AS BIGINT) AS w
        FROM part WHERE p_partkey <= 50
    ),
    ranked AS (
        SELECT p_partkey, v_cents, w,
               SUM(w) OVER (ORDER BY v_cents * 1e0 / w DESC, p_partkey)
                   AS cum_w
        FROM items
    ),
    taken AS (
        SELECT p_partkey, v_cents, w, cum_w,
               CASE WHEN cum_w <= {_KNAP_W} THEN 'full'
                    WHEN cum_w - w < {_KNAP_W} THEN 'fraction'
                    ELSE 'skip' END AS take
        FROM ranked
    )
    SELECT CAST(SUM(CASE WHEN take = 'full' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_full,
           CAST(SUM(CASE WHEN take = 'full' THEN w ELSE 0 END) AS BIGINT)
               AS full_weight,
           CAST(MAX(CASE WHEN take = 'fraction' THEN p_partkey END)
                AS BIGINT) AS boundary_part,
           CAST(SUM(CASE WHEN take = 'full' THEN v_cents * 1000000
                    WHEN take = 'fraction'
                    THEN CAST(FLOOR(v_cents * ({_KNAP_W} - (cum_w - w))
                              * 1000000.0 / w) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS value_micro_cents
    FROM taken
    """,
)
def opt_fractional_knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy fractional knapsack (Dantzig 1957, public; density-greedy
    is provably OPTIMAL for the fractional relaxation): the first 50
    parts compete for 100 size-units of capacity by value density
    (retail cents per size unit, partkey tie-break); whole items are
    taken until the boundary item enters fractionally. The LP-relaxation
    bound every knapsack-shaped budgeting decision (cache admission,
    shipment filling) starts from.

    Determinism: cents and sizes are exact integers; the density sort
    has a total order; the fractional term is exact integer arithmetic
    ×10^6 (FLOOR of v·remainder·1e6/w — the quotient stays below 2^53 so
    the double division is exact and both engines floor identically).

    Scale shape: one ranked running-sum window over the bounded item
    set; everything else is a single fold."""
    items = (
        table(spark, sf_dir, "part")
        .where(F.col("p_partkey") <= 50)
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100).cast("long").alias("v_cents"),
            F.col("p_size").cast("long").alias("w"),
        )
    )
    wd = Window.orderBy((F.col("v_cents") * F.lit(1.0) / F.col("w")).desc(), "p_partkey")
    ranked = items.select(
        "p_partkey", "v_cents", "w", F.sum("w").over(wd).alias("cum_w")
    )
    take = (
        F.when(F.col("cum_w") <= _KNAP_W, "full")
        .when(F.col("cum_w") - F.col("w") < _KNAP_W, "fraction")
        .otherwise("skip")
    )
    t = ranked.select("p_partkey", "v_cents", "w", "cum_w", take.alias("take"))
    frac_val = F.floor(
        F.col("v_cents")
        * (_KNAP_W - (F.col("cum_w") - F.col("w")))
        * 1000000.0
        / F.col("w")
    ).cast("long")
    return t.agg(
        F.sum(F.when(F.col("take") == "full", 1).otherwise(0))
        .cast("long")
        .alias("n_full"),
        F.sum(F.when(F.col("take") == "full", F.col("w")).otherwise(0))
        .cast("long")
        .alias("full_weight"),
        F.max(F.when(F.col("take") == "fraction", F.col("p_partkey")))
        .cast("long")
        .alias("boundary_part"),
        F.sum(
            F.when(F.col("take") == "full", F.col("v_cents") * 1000000)
            .when(F.col("take") == "fraction", frac_val)
            .otherwise(0)
        )
        .cast("long")
        .alias("value_micro_cents"),
    )


@query(
    "opt_spt_scheduling",
    oracle="""
    WITH jobs AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS p
        FROM events GROUP BY day
    ),
    spt AS (
        SELECT p, SUM(p) OVER (ORDER BY p, day) AS c FROM jobs
    ),
    fifo AS (
        SELECT p, SUM(p) OVER (ORDER BY day) AS c FROM jobs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM jobs) AS n_jobs,
           (SELECT CAST(SUM(c) AS BIGINT) FROM spt) AS spt_total_completion,
           (SELECT CAST(SUM(c) AS BIGINT) FROM fifo) AS fifo_total_completion,
           ROUND((SELECT SUM(c) FROM fifo) * 1e0
                 / (SELECT SUM(c) FROM spt), 6) AS fifo_over_spt
    """,
)
def opt_spt_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-processing-time-first scheduling (Smith 1956, public;
    SPT provably minimizes total completion time on one machine): daily
    workloads as jobs, comparing SPT order against FIFO (arrival-date)
    order on Σ completion times. The exchange-argument classic behind
    'drain the small queries first' — pytest asserts SPT ≤ FIFO.

    Determinism: completion times are exact running integer sums over
    totally-ordered jobs.

    Scale shape: daily collapse, two running-sum windows."""
    jobs = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("p"))
    )
    spt = jobs.select(F.sum("p").over(Window.orderBy("p", "day")).alias("c"))
    fifo = jobs.select(F.sum("p").over(Window.orderBy("day")).alias("c"))
    a = jobs.agg(F.count("*").cast("long").alias("n_jobs"))
    s = spt.agg(F.sum("c").cast("long").alias("spt_total_completion"))
    f = fifo.agg(F.sum("c").cast("long").alias("fifo_total_completion"))
    return (
        a.crossJoin(s)
        .crossJoin(f)
        .select(
            "n_jobs",
            "spt_total_completion",
            "fifo_total_completion",
            F.round(
                F.col("fifo_total_completion")
                * F.lit(1.0)
                / F.col("spt_total_completion"),
                6,
            ).alias("fifo_over_spt"),
        )
    )


@query(
    "opt_johnson_flowshop",
    oracle="""
    WITH jobs AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS m1,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS m2
        FROM events GROUP BY day
    ),
    ordered AS (
        SELECT day, m1, m2,
               ROW_NUMBER() OVER (
                   ORDER BY CASE WHEN m1 < m2 THEN 0 ELSE 1 END,
                            CASE WHEN m1 < m2 THEN m1 ELSE -m2 END,
                            day) AS pos
        FROM jobs
    ),
    pre AS (
        SELECT pos,
               SUM(m1) OVER (ORDER BY pos) AS c1,
               SUM(m2) OVER (ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS suf2
        FROM ordered
    ),
    fifo AS (
        SELECT day,
               SUM(m1) OVER (ORDER BY day) AS c1,
               SUM(m2) OVER (ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS suf2
        FROM jobs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM jobs) AS n_jobs,
           (SELECT CAST(MAX(c1 + suf2) AS BIGINT) FROM pre)
               AS johnson_makespan,
           (SELECT CAST(MAX(c1 + suf2) AS BIGINT) FROM fifo)
               AS fifo_makespan
    """,
)
def opt_johnson_flowshop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson's rule for the two-machine flow shop (Johnson, Naval Res.
    Logistics 1954, public): daily click volume is stage-1 work, purchase
    volume stage-2; Johnson's optimal order runs m1<m2 jobs first by
    ascending m1, then the rest by descending m2. The makespan uses the
    CLOSED FORM max_j (Σ_{i≤j} m1_i + Σ_{i≥j} m2_i) — the max-plus
    recurrence telescoped into two window sums, so no sequential fold is
    needed. FIFO makespan reported for contrast (pytest asserts Johnson
    ≤ FIFO).

    Determinism: integer volumes, total-ordered positions, exact window
    sums, one MAX.

    Scale shape: daily collapse, one ordered window pair per schedule —
    the telescoped form is what makes the 'inherently sequential'
    recurrence distributable."""
    jobs = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("m1"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("m2"),
        )
    )
    grp = F.when(F.col("m1") < F.col("m2"), 0).otherwise(1)
    key = F.when(F.col("m1") < F.col("m2"), F.col("m1")).otherwise(-F.col("m2"))
    wj = Window.orderBy(grp.asc(), key.asc(), F.col("day").asc())
    ordered = jobs.select("day", "m1", "m2", F.row_number().over(wj).alias("pos"))
    wp = Window.orderBy("pos")
    pre = ordered.select(
        F.sum("m1").over(wp).alias("c1"),
        F.sum("m2")
        .over(wp.rowsBetween(0, Window.unboundedFollowing))
        .alias("suf2"),
    )
    wf = Window.orderBy("day")
    fifo = jobs.select(
        F.sum("m1").over(wf).alias("c1"),
        F.sum("m2")
        .over(wf.rowsBetween(0, Window.unboundedFollowing))
        .alias("suf2"),
    )
    n = jobs.agg(F.count("*").cast("long").alias("n_jobs"))
    jm = pre.agg(
        F.max(F.col("c1") + F.col("suf2")).cast("long").alias("johnson_makespan")
    )
    fm = fifo.agg(
        F.max(F.col("c1") + F.col("suf2")).cast("long").alias("fifo_makespan")
    )
    return n.crossJoin(jm).crossJoin(fm)
