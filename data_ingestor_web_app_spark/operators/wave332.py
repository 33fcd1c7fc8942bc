"""Wave-332: Allan variance (Allan, Proc. IEEE 1966) over the daily
series at three cluster sizes, the Hjorth descriptors (Hjorth, EEG
Clin. Neurophysiol. 1970) with Petrosian's fractal dimension
(Petrosian, IEEE CBMS 1995), and the secretary-problem 1/e stopping
rule (Lindley 1961 / Dynkin 1963) replayed over the order arrival
sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# daily mean frame in exact centi-units (30 calendar days at every SF)
_DAILY_SQL = """
    daily AS (
        SELECT CAST(ts AS DATE) AS d,
               ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) - 1 AS i,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS m
        FROM events GROUP BY 1
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
                / F.count("*")
            ).alias("m")
        )
        .withColumn("i", F.row_number().over(Window.orderBy("d")) - 1)
    )


@query(
    "events_allan_variance",
    oracle=f"""
    WITH {_DAILY_SQL},
    taus AS (SELECT UNNEST([1, 2, 5]) AS tau),
    blocks AS (
        SELECT t.tau, daily.i // t.tau AS blk,
               SUM(m) / COUNT(*) AS ybar,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM daily CROSS JOIN taus t
        GROUP BY t.tau, daily.i // t.tau
        HAVING COUNT(*) = t.tau
    ),
    diffs AS (
        SELECT tau, ybar - LAG(ybar) OVER (PARTITION BY tau ORDER BY blk)
                   AS dy
        FROM blocks
    )
    SELECT tau AS tau_days,
           CAST(COUNT(dy) AS BIGINT) AS m_pairs,
           ROUND(SUM(dy * dy) / (2.0 * COUNT(dy)), 6) AS allan_var,
           ROUND(SQRT(SUM(dy * dy) / (2.0 * COUNT(dy))), 6) AS allan_dev
    FROM diffs WHERE dy IS NOT NULL
    GROUP BY tau ORDER BY tau
    """,
)
def events_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-overlapping Allan variance (Allan, Proc. IEEE 1966 — the
    clock-stability statistic): σ²_y(τ) = ⟨(ȳ_{{i+1}} − ȳ_i)²⟩ / 2 over
    consecutive τ-day block means of the daily mean-value series, at
    τ ∈ {{1, 2, 5}} days. The τ-scan separates white noise (slope −1)
    from random-walk drift (slope +1) — the metrology answer to 'is
    this metric jittering or wandering'. Incomplete trailing blocks are
    dropped (HAVING count = τ), the standard non-overlapping estimator.

    Determinism: daily means are exact rationals; block means divide a
    ≤5-term ordered sum; squared-diff sums are ≤29 fixed-chain doubles
    against 6dp rounding.

    Scale shape: one daily aggregate, then a 3×30-row block groupBy and
    a per-tau lag — calendar-bounded frames throughout."""
    daily = _daily(spark, sf_dir)
    taus = spark.createDataFrame([(1,), (2,), (5,)], "tau int")
    blocks = (
        daily.crossJoin(F.broadcast(taus))
        .groupBy("tau", (F.col("i") / F.col("tau")).cast("long").alias("blk"))
        .agg(
            (F.sum("m") / F.count("*")).alias("ybar"),
            F.count("*").alias("cnt"),
            F.max("tau").alias("t2"),
        )
        .where(F.col("cnt") == F.col("t2"))
    )
    w = Window.partitionBy("tau").orderBy("blk")
    diffs = blocks.select(
        "tau", (F.col("ybar") - F.lag("ybar").over(w)).alias("dy")
    ).where(F.col("dy").isNotNull())
    return (
        diffs.groupBy(F.col("tau").alias("tau_days"))
        .agg(
            F.count("dy").cast("long").alias("m_pairs"),
            F.round(
                F.sum(F.col("dy") * F.col("dy")) / (2.0 * F.count("dy")), 6
            ).alias("allan_var"),
            F.round(
                F.sqrt(
                    F.sum(F.col("dy") * F.col("dy")) / (2.0 * F.count("dy"))
                ),
                6,
            ).alias("allan_dev"),
        )
        .orderBy("tau_days")
    )


@query(
    "events_hjorth_petrosian",
    oracle=f"""
    WITH {_DAILY_SQL},
    d1 AS (
        SELECT i, m,
               m - LAG(m) OVER (ORDER BY i) AS dm,
               m - 2 * LAG(m) OVER (ORDER BY i)
                 + LAG(m, 2) OVER (ORDER BY i) AS ddm,
               SIGN(m - LAG(m) OVER (ORDER BY i))
                   <> SIGN(LAG(m) OVER (ORDER BY i)
                           - LAG(m, 2) OVER (ORDER BY i)) AS flip
        FROM daily
    ),
    mom AS (
        SELECT CAST(COUNT(m) AS BIGINT) AS n,
               AVG(m) AS mu, SUM(m * m) AS s2,
               CAST(COUNT(dm) AS BIGINT) AS n1,
               SUM(dm * dm) AS sd2,
               CAST(COUNT(ddm) AS BIGINT) AS n2,
               SUM(ddm * ddm) AS sdd2,
               CAST(SUM(CASE WHEN flip THEN 1 ELSE 0 END) AS BIGINT) AS flips
        FROM d1
    )
    SELECT n AS n_days, flips AS n_sign_changes,
           ROUND(s2 / n - mu * mu, 6) AS activity,
           ROUND(SQRT((sd2 / n1) / (s2 / n - mu * mu)), 6) AS mobility,
           ROUND(SQRT((sdd2 / n2) / (sd2 / n1))
                 / SQRT((sd2 / n1) / (s2 / n - mu * mu)), 6) AS complexity,
           ROUND(LN(CAST(n AS DOUBLE)) / (LN(CAST(n AS DOUBLE))
                 + LN(n / (n + 0.4 * flips))), 6) AS petrosian_fd
    FROM mom
    """,
)
def events_hjorth_petrosian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hjorth descriptors (Hjorth 1970 — activity = var(y),
    mobility = sqrt(var(y')/var(y)), complexity = mobility(y')/
    mobility(y)) plus Petrosian's fractal dimension ln n / (ln n +
    ln(n/(n+0.4·Nδ))) with Nδ the sign-change count of the first
    difference — the classic O(1)-pass waveform-shape features, on the
    30-day daily mean series. Zero-crossing flips are exact integer
    counting; the descriptors are variance ratios.

    Determinism: derivatives are lag chains over exact rationals;
    moments are ≤30-term sums of ~1e0 doubles against 6dp rounding;
    sign flips compare exact doubles.

    Scale shape: one daily aggregate then a single ordered window over
    the calendar-bounded frame."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("i")
    d1 = daily.select(
        "m",
        (F.col("m") - F.lag("m").over(w)).alias("dm"),
        (F.col("m") - 2 * F.lag("m").over(w) + F.lag("m", 2).over(w)).alias(
            "ddm"
        ),
        (
            F.signum(F.col("m") - F.lag("m").over(w))
            != F.signum(F.lag("m").over(w) - F.lag("m", 2).over(w))
        ).alias("flip"),
    )
    mom = d1.agg(
        F.count("m").cast("long").alias("n"),
        F.avg("m").alias("mu"),
        F.sum(F.col("m") * F.col("m")).alias("s2"),
        F.count("dm").cast("long").alias("n1"),
        F.sum(F.col("dm") * F.col("dm")).alias("sd2"),
        F.count("ddm").cast("long").alias("n2"),
        F.sum(F.col("ddm") * F.col("ddm")).alias("sdd2"),
        F.sum(F.when(F.col("flip"), 1).otherwise(0))
        .cast("long")
        .alias("flips"),
    )
    n = F.col("n")
    act = F.col("s2") / n - F.col("mu") * F.col("mu")
    v1 = F.col("sd2") / F.col("n1")
    v2 = F.col("sdd2") / F.col("n2")
    mob = F.sqrt(v1 / act)
    nd = n.cast("double")
    return mom.select(
        n.alias("n_days"),
        F.col("flips").alias("n_sign_changes"),
        F.round(act, 6).alias("activity"),
        F.round(mob, 6).alias("mobility"),
        F.round(F.sqrt(v2 / v1) / mob, 6).alias("complexity"),
        F.round(
            F.log(nd) / (F.log(nd) + F.log(nd / (nd + 0.4 * F.col("flips")))),
            6,
        ).alias("petrosian_fd"),
    )


@query(
    "opt_secretary_stopping",
    oracle="""
    WITH seq AS (
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS p,
               ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM orders
    ),
    m AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(FLOOR(MAX(n) / 2.718281828459045) AS BIGINT) AS obs
        FROM seq
    ),
    thresh AS (
        SELECT CAST(MAX(p) AS BIGINT) AS obs_max FROM seq, m
        WHERE seq.rn <= m.obs
    ),
    pick AS (
        SELECT seq.rn, seq.o_orderkey, seq.p,
               ROW_NUMBER() OVER (ORDER BY seq.rn) AS ord
        FROM seq, m, thresh
        WHERE seq.rn > m.obs AND seq.p > thresh.obs_max
    ),
    chosen AS (
        SELECT COALESCE(
                   (SELECT o_orderkey FROM pick WHERE ord = 1),
                   (SELECT o_orderkey FROM seq
                    WHERE rn = (SELECT n FROM m))) AS picked_key,
               COALESCE((SELECT p FROM pick WHERE ord = 1),
                        (SELECT p FROM seq
                         WHERE rn = (SELECT n FROM m))) AS picked_p
    )
    SELECT m.n AS n_candidates, m.obs AS n_observed,
           CAST(chosen.picked_key AS BIGINT) AS picked_orderkey,
           ROUND(chosen.picked_p / 100.0, 2) AS picked_price,
           ROUND(CAST((SELECT MAX(p) FROM seq) AS DOUBLE) / 100.0, 2)
               AS best_price,
           chosen.picked_p = (SELECT MAX(p) FROM seq) AS picked_is_best
    FROM m, chosen
    """,
)
def opt_secretary_stopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The secretary problem's 1/e stopping rule (Lindley 1961, Dynkin
    1963 — the optimal-stopping classic): observe the first ⌊n/e⌋
    orders in arrival sequence (orderdate, orderkey), then accept the
    FIRST later order whose price strictly beats the observation
    maximum, falling back to the last candidate if none does. Reports
    whether the rule actually landed the global best — the 1/e law
    says it does with probability ≥ 1/e.

    Determinism: the arrival sequence has a total order; prices are
    exact cents; ⌊n/e⌋ divides an exact integer by the same double
    literal in both engines.

    Scale shape: one sort-once window pass (rank + running context),
    a 1-row observation max, and a TakeOrdered-style first-hit pick —
    no self-joins, linear in orders."""
    from data_ingestor_web_app_spark.operators.rank_utils import (
        global_row_index,
    )

    # arrival rank via the sharded prefix rank (dates are the bounded
    # grid, o_orderkey breaks ties) — no corpus-wide single partition
    sq = global_row_index(
        table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("p"),
        ),
        "o_orderdate",
        "o_orderkey",
        index_col="rn",
    ).select("o_orderkey", "p", "rn")
    m = sq.agg(
        F.count("*").cast("long").alias("n"),
        F.floor(F.count("*") / F.lit(2.718281828459045)).cast("long").alias(
            "obs"
        ),
    )
    thresh = (
        sq.crossJoin(F.broadcast(m))
        .where(F.col("rn") <= F.col("obs"))
        .agg(F.max("p").cast("long").alias("obs_max"))
    )
    pick = (
        sq.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(thresh))
        .where((F.col("rn") > F.col("obs")) & (F.col("p") > F.col("obs_max")))
        .orderBy("rn")
        .limit(1)
        .select(
            F.col("o_orderkey").alias("pk"), F.col("p").alias("pp")
        )
    )
    last = (
        sq.crossJoin(F.broadcast(m))
        .where(F.col("rn") == F.col("n"))
        .select(F.col("o_orderkey").alias("lk"), F.col("p").alias("lp"))
    )
    best = sq.agg(F.max("p").cast("long").alias("best_p"))
    # left-join the (possibly empty) pick onto the fallback row
    out = (
        m.crossJoin(F.broadcast(last))
        .join(F.broadcast(pick), F.lit(True), "left")
        .crossJoin(F.broadcast(best))
    )
    picked_key = F.coalesce(F.col("pk"), F.col("lk"))
    picked_p = F.coalesce(F.col("pp"), F.col("lp"))
    return out.select(
        F.col("n").alias("n_candidates"),
        F.col("obs").alias("n_observed"),
        picked_key.cast("long").alias("picked_orderkey"),
        F.round(picked_p / 100.0, 2).alias("picked_price"),
        F.round(F.col("best_p").cast("double") / 100.0, 2).alias(
            "best_price"
        ),
        (picked_p == F.col("best_p")).alias("picked_is_best"),
    )
