"""Wave-275: an EXACT single-server queue simulation as a window
function (the Lindley recursion collapses to a prefix-minimum — no
discrete-event loop), and a concentration-inequality audit comparing
empirical tails against Markov / Chebyshev / one-sided Cantelli bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_UTIL = 0.8  # service time = 0.8 * mean interarrival -> rho = 0.8


@query(
    "events_lindley_queue",
    oracle=f"""
    WITH arr AS (
        SELECT epoch_us(ts) AS t,
               ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ia AS (
        SELECT rn, (t - LAG(t) OVER (ORDER BY rn)) / 1000000.0 AS a
        FROM arr
    ),
    svc AS (
        SELECT AVG(a) * {_UTIL!r} AS s FROM ia WHERE a IS NOT NULL
    ),
    steps AS (
        SELECT rn, svc.s - ia.a AS d
        FROM ia CROSS JOIN svc WHERE ia.a IS NOT NULL
    ),
    pref1 AS (
        SELECT rn, SUM(d) OVER (ORDER BY rn) AS p FROM steps
    ),
    pref AS (
        SELECT rn, p,
               MIN(p) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS pmin
        FROM pref1
    ),
    waits AS (
        SELECT rn, GREATEST(0.0, p - LEAST(pmin, 0.0)) AS w
        FROM pref
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(w) AS mean_wait,
               MAX(w) AS max_wait,
               SUM(CASE WHEN w > 0 THEN 1.0 ELSE 0 END) / COUNT(*)
                   AS frac_delayed
        FROM waits
    )
    SELECT n AS n_customers,
           ROUND((SELECT s FROM svc), 6) AS service_s,
           ROUND(mean_wait, 6) AS mean_wait_s,
           ROUND(max_wait, 6) AS max_wait_s,
           ROUND(frac_delayed, 6) AS frac_delayed
    FROM mom
    """,
)
def events_lindley_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT replay of a single-server FIFO queue fed by the real event
    arrivals with deterministic service 0.8 x mean interarrival
    (rho = 0.8), via the Lindley recursion (Lindley, Proc. Camb. Phil.
    Soc. 1952, public) W_{{n+1}} = max(0, W_n + S - A_n). The recursion
    is NOT simulated: it telescopes to W_n = P_n - min(0, min_{{j<=n}}
    P_j) with P the prefix sum of (S - A) — the same identity as
    events_cusum_drift — so a discrete-event simulation becomes two
    ordered windows. Compare the emitted mean wait against
    events_mg1_pollaczek's formula: this is the sample path, that is
    the steady-state expectation.

    Exactness device: interarrivals are exact micro diffs; the prefix
    sum and running minimum are sequentially-ordered windows (same
    accumulation order both engines); one GREATEST/LEAST chain.

    Scale shape: one total-order window pass (two-phase sharded prefix
    at 100 TB), one moment aggregate — a million-customer simulation
    at scan speed."""
    e = table(spark, sf_dir, "events")
    w0 = Window.orderBy("ts", "event_id")
    arr = e.select(
        F.expr("unix_micros(ts)").alias("t"),
        F.row_number().over(w0).alias("rn"),
    )
    wr = Window.orderBy("rn")
    ia = arr.select(
        "rn",
        ((F.col("t") - F.lag("t").over(wr)) / 1000000.0).alias("a"),
    ).where(F.col("a").isNotNull())
    svc = ia.agg((F.avg("a") * _UTIL).alias("s"))
    steps = ia.crossJoin(F.broadcast(svc)).select(
        "rn", (F.col("s") - F.col("a")).alias("d"), "s"
    )
    wcum = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    pref = steps.select(
        "rn",
        "s",
        F.sum("d").over(wcum).alias("p"),
    ).withColumn("pmin", F.min("p").over(wcum))
    waits = pref.select(
        "s",
        F.greatest(
            F.lit(0.0), F.col("p") - F.least(F.col("pmin"), F.lit(0.0))
        ).alias("w"),
    )
    mom = waits.agg(
        F.count("*").cast("long").alias("n"),
        F.first("s").alias("service_s"),
        F.avg("w").alias("mean_wait"),
        F.max("w").alias("max_wait"),
        (
            F.sum(F.when(F.col("w") > 0, 1.0).otherwise(0)) / F.count("*")
        ).alias("frac_delayed"),
    )
    return mom.select(
        F.col("n").alias("n_customers"),
        F.round("service_s", 6).alias("service_s"),
        F.round("mean_wait", 6).alias("mean_wait_s"),
        F.round("max_wait", 6).alias("max_wait_s"),
        F.round("frac_delayed", 6).alias("frac_delayed"),
    )


_K_LADDER = [2, 3, 5]


@query(
    "agg_concentration_bounds",
    oracle=f"""
    WITH mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS mu,
               SUM(value * value) / COUNT(*) - AVG(value) * AVG(value)
                   AS var_v
        FROM events
    ),
    ks AS (SELECT UNNEST(ARRAY{_K_LADDER}) AS k),
    emp AS (
        SELECT k.k,
               (SELECT SUM(CASE WHEN value > k.k * m.mu THEN 1.0 ELSE 0
                           END) / COUNT(*)
                FROM events) AS p_emp,
               m.mu, m.var_v
        FROM ks k CROSS JOIN mom m
    )
    SELECT k,
           ROUND(p_emp, 6) AS p_empirical,
           ROUND(1.0 / k, 6) AS markov_bound,
           ROUND(LEAST(1.0, var_v / ((k - 1) * mu * ((k - 1) * mu))), 6)
               AS chebyshev_bound,
           ROUND(LEAST(1.0, var_v / (var_v + ((k - 1) * mu)
                                              * ((k - 1) * mu))), 6)
               AS cantelli_bound,
           p_emp <= var_v / (var_v + ((k - 1) * mu) * ((k - 1) * mu))
               AS cantelli_holds
    FROM emp ORDER BY k
    """,
)
def agg_concentration_bounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Concentration-inequality audit (Markov 1889; Chebyshev 1867;
    Cantelli 1928, public) of the value column's upper tail: for k in
    {{2, 3, 5}}, the EMPIRICAL P(X > k*mu) next to Markov's 1/k,
    Chebyshev's var/((k-1)mu)^2, and the one-sided Cantelli bound
    var/(var + ((k-1)mu)^2) — the ladder that says how much tail your
    data actually has versus how much the worst case permits. A
    capacity planner quoting Markov when Cantelli is 40x tighter
    over-provisions by exactly this table's ratio; a tail FATTER than
    Cantelli would falsify the variance estimate (the in-band flag —
    a theorem, so it must hold, and the test asserts it).

    Exactness device: moments in one pass; the three bounds are single
    rounded rational chains; the flag compares identical unrounded
    values.

    Scale shape: two aggregates over the scan (one for moments, one
    counting pass for the 3-threshold empirical tail)."""
    mom = table(spark, sf_dir, "events").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("value").alias("mu"),
        (
            F.sum(F.col("value") * F.col("value")) / F.count("*")
            - F.avg("value") * F.avg("value")
        ).alias("var_v"),
    )
    e = table(spark, sf_dir, "events")
    # r11: ONE counting pass computes all three tail sums (the old per-k
    # loop ran a separate corpus aggregate per ladder rung, and the union
    # re-embedded the moment aggregate per branch); the 3 report rows come
    # from one explode(array(struct...)) over the single-row frame.
    # Per-k expressions unchanged.
    emp = e.crossJoin(F.broadcast(mom)).agg(
        *[
            (
                F.sum(
                    F.when(F.col("value") > k * F.col("mu"), 1.0).otherwise(0)
                )
                / F.count("*")
            ).alias(f"p_emp_{k}")
            for k in _K_LADDER
        ],
        F.first("mu").alias("mu"),
        F.first("var_v").alias("var_v"),
    )
    k_structs = []
    for k in _K_LADDER:
        km1mu = (k - 1) * F.col("mu")
        cant = F.col("var_v") / (F.col("var_v") + km1mu * km1mu)
        p_emp = F.col(f"p_emp_{k}")
        k_structs.append(
            F.struct(
                F.lit(k).cast("int").alias("k"),
                F.round(p_emp, 6).alias("p_empirical"),
                F.round(F.lit(1.0 / k), 6).alias("markov_bound"),
                F.round(
                    F.least(F.lit(1.0), F.col("var_v") / (km1mu * km1mu)), 6
                ).alias("chebyshev_bound"),
                F.round(F.least(F.lit(1.0), cant), 6).alias("cantelli_bound"),
                (p_emp <= cant).alias("cantelli_holds"),
            )
        )
    return (
        emp.select(F.explode(F.array(*k_structs)).alias("r"))
        .select("r.*")
        .orderBy("k")
    )
