"""Wave-294: Kuiper's circular uniformity test and the Siegel-Tukey
dispersion rank test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_kuiper_test",
    oracle="""
    WITH m AS (
        SELECT epoch_us(ts) % 86400000000 AS mu FROM events
    ),
    vals AS (
        SELECT mu, CAST(COUNT(*) AS BIGINT) AS k FROM m GROUP BY mu
    ),
    cum AS (
        SELECT mu / 86400000000.0 AS v,
               SUM(k) OVER (ORDER BY mu) - k AS below,
               SUM(k) OVER (ORDER BY mu) AS upto,
               SUM(k) OVER () AS n
        FROM vals
    ),
    d AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               MAX(CAST(upto AS DOUBLE) / n - v) AS d_plus,
               MAX(v - CAST(below AS DOUBLE) / n) AS d_minus
        FROM cum
    )
    SELECT n AS n_obs,
           ROUND(d_plus, 6) AS d_plus,
           ROUND(d_minus, 6) AS d_minus,
           ROUND(d_plus + d_minus, 6) AS kuiper_v,
           ROUND((d_plus + d_minus)
                 * (SQRT(CAST(n AS DOUBLE)) + 0.155
                    + 0.24 / SQRT(CAST(n AS DOUBLE))), 6) AS v_star,
           (d_plus + d_minus)
               * (SQRT(CAST(n AS DOUBLE)) + 0.155
                  + 0.24 / SQRT(CAST(n AS DOUBLE))) > 1.747 AS nonuniform
    FROM d
    """,
)
def agg_kuiper_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper's V test of circular uniformity (Kuiper, 1960, public) on
    time-of-day fractions: V = D+ + D- — the KS statistic made
    ROTATION-INVARIANT by adding the two one-sided maxima, the classic
    companion to Watson's U^2 (agg_watson_u2): U^2 integrates squared
    EDF deviation, V takes the extremes, so V is the more sensitive of
    the two to a single sharp daily peak. The finite-n adjustment
    V* = V(sqrt(n) + 0.155 + 0.24/sqrt(n)) is compared against the
    published 5% point 1.747 (Stephens 1970).

    Determinism: u comes from exact integer epoch-micros modular
    arithmetic; D+ / D- are MAXIMA (order-free, no summation jitter);
    one rounded chain; the flag compares the identical unrounded V*.

    Scale shape: distinct day-micros collapse first (one partial-agg
    shuffle); over the distinct-value frame D+ = max(upto/n - v) and
    D- = max(v - below/n) handle ties exactly (the extreme within a tie
    range is attained at its edge), so the global cumulative window's
    input is an Aggregate, never raw rows."""
    m = table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) % 86400000000").alias("mu")
    )
    vals = m.groupBy("mu").agg(F.count("*").cast("long").alias("k"))
    wv = Window.orderBy("mu")
    cum = vals.select(
        (F.col("mu") / 86400000000.0).alias("v"),
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )
    d = cum.agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.col("upto").cast("double") / F.col("n") - F.col("v")).alias(
            "d_plus"
        ),
        F.max(F.col("v") - F.col("below").cast("double") / F.col("n")).alias(
            "d_minus"
        ),
    )
    v = F.col("d_plus") + F.col("d_minus")
    vstar = v * (
        F.sqrt(F.col("n").cast("double"))
        + 0.155
        + 0.24 / F.sqrt(F.col("n").cast("double"))
    )
    return d.select(
        F.col("n").alias("n_obs"),
        F.round("d_plus", 6).alias("d_plus"),
        F.round("d_minus", 6).alias("d_minus"),
        F.round(v, 6).alias("kuiper_v"),
        F.round(vstar, 6).alias("v_star"),
        (vstar > 1.747).alias("nonuniform"),
    )


@query(
    "agg_siegel_tukey",
    oracle="""
    WITH vals AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    pos AS (
        SELECT grp,
               ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM vals
    ),
    st AS (
        SELECT grp, n,
               CASE
                 WHEN i < n + 1 - i THEN
                   CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
                 WHEN i > n + 1 - i THEN
                   CASE WHEN (n + 1 - i) % 2 = 1 THEN 2 * (n + 1 - i)
                        ELSE 2 * (n + 1 - i) - 1 END
                 ELSE n
               END AS r
        FROM pos
    ),
    sums AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN grp = '1-URGENT' THEN r ELSE 0 END)
                    AS BIGINT) AS w1,
               CAST(SUM(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2
        FROM st
    )
    SELECT n1, n2,
           w1 AS rank_sum_urgent,
           ROUND((w1 - n1 * (CAST(n AS DOUBLE) + 1) / 2)
                 / SQRT(n1 * CAST(n2 AS DOUBLE) * (n + 1) / 12.0), 6)
               AS z_dispersion,
           ABS((w1 - n1 * (CAST(n AS DOUBLE) + 1) / 2)
               / SQRT(n1 * CAST(n2 AS DOUBLE) * (n + 1) / 12.0)) > 1.959964
               AS unequal_spread
    FROM sums
    """,
)
def agg_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey rank-dispersion test (Siegel & Tukey, JASA 1960,
    public): are urgent and low-priority order values equally SPREAD?
    Ranks are dealt alternately from the two ends of the pooled sort —
    1 to the smallest, 2,3 to the two largest, 4,5 to the next two
    smallest, ... — so a group hugging the extremes collects low ranks
    and the Wilcoxon machinery turns into a scale test. Completes the
    two-sample family: location (agg_mann_whitney), dominance
    (agg_cliffs_delta), spread (this).

    Determinism: positions come from a TOTAL order (cents, orderkey —
    the documented deterministic tie policy, same in both engines);
    the end-alternating rank is a closed form of the position (bottom
    depth d -> 2d-1 if d odd else 2d; top depth d -> 2d if d odd else
    2d-1; the odd-n middle takes n), an exact BIGINT permutation of
    1..n; z is one fixed float chain rounded 6dp.

    Scale shape (guard-clean from birth): positions via the two-phase
    sharded prefix rank (rank_utils.global_row_index — partitioned rank
    within equal cents + distinct-value offsets), never a
    single-partition window; one scalar aggregate after."""
    from data_ingestor_web_app_spark.operators.rank_utils import global_row_index

    vals = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        )
    )
    pos = global_row_index(vals, "cents", "o_orderkey").crossJoin(
        F.broadcast(vals.agg(F.count("*").cast("long").alias("n")))
    )
    i = F.col("__i")
    dt = F.col("n") + 1 - i
    st_rank = (
        F.when(
            i < dt,
            F.when(i % 2 == 1, 2 * i - 1).otherwise(2 * i),
        )
        .when(
            i > dt,
            F.when(dt % 2 == 1, 2 * dt).otherwise(2 * dt - 1),
        )
        .otherwise(F.col("n"))
    )
    st = pos.select("grp", "n", st_rank.cast("long").alias("r"))
    sums = st.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.when(F.col("grp") == "1-URGENT", F.col("r")).otherwise(0))
        .cast("long")
        .alias("w1"),
        F.sum(F.when(F.col("grp") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == "5-LOW", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    z = (
        F.col("w1") - F.col("n1") * (F.col("n").cast("double") + 1) / 2
    ) / F.sqrt(
        F.col("n1") * F.col("n2").cast("double") * (F.col("n") + 1) / 12.0
    )
    return sums.select(
        "n1",
        "n2",
        F.col("w1").alias("rank_sum_urgent"),
        F.round(z, 6).alias("z_dispersion"),
        (F.abs(z) > 1.959964).alias("unequal_spread"),
    )
