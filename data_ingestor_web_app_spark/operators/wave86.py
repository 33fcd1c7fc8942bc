"""Wave-86: sample-ratio-mismatch detection, decile gains/lift table,
and standardized contingency residuals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_ab_srm_check",
    oracle="""
    WITH assigned AS (
        SELECT DISTINCT user_id,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR) || '|srm'),
                                        1, 8)) AS BIGINT) % 2 AS arm
        FROM events
    ),
    counts AS (
        SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat
        FROM assigned
    ),
    chi AS (
        SELECT n_control, n_treat,
               (n_control + n_treat) / 2.0 AS expected,
               (n_control - (n_control + n_treat) / 2.0)
                 * (n_control - (n_control + n_treat) / 2.0)
                 / ((n_control + n_treat) / 2.0)
               + (n_treat - (n_control + n_treat) / 2.0)
                 * (n_treat - (n_control + n_treat) / 2.0)
                 / ((n_control + n_treat) / 2.0) AS chi2
        FROM counts
    )
    SELECT n_control, n_treat,
           ROUND(chi2, 6) AS chi2_stat,
           chi2 > 3.841459 AS srm_alarm
    FROM chi
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (the first experiment-health gate in
    any A/B platform; Kohavi et al., public): users hash into two arms
    via the engine's portable salted-MD5 assignment, and a 1-df
    chi-square goodness-of-fit against the declared 50/50 split flags
    randomization bugs (the alarm threshold is the literal chi2(1)
    95th percentile, 3.841459). A healthy hash must NOT alarm — this is
    the negative-control twin of the experiment family
    (events_power_analysis, events_uplift_cuped,
    events_sequential_test_obrien).

    Determinism: assignment is the salted-MD5 coin; counts are exact;
    the statistic is one fixed double formula rounded 6dp, and the
    alarm compares against a literal.

    Scale shape: distinct-users is one shuffle; the rest is a scalar
    aggregate."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|srm"))), 1, 8),
        16,
        10,
    ).cast("long")
    assigned = (
        table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select((h % 2).alias("arm"))
    )
    counts = assigned.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_control"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_treat"),
    )
    expected = (F.col("n_control") + F.col("n_treat")) / 2.0
    chi2 = (
        (F.col("n_control") - expected) * (F.col("n_control") - expected) / expected
        + (F.col("n_treat") - expected) * (F.col("n_treat") - expected) / expected
    )
    return counts.select(
        "n_control",
        "n_treat",
        F.round(chi2, 6).alias("chi2_stat"),
        (chi2 > 3.841459).alias("srm_alarm"),
    )


@query(
    "model_gains_table",
    oracle="""
    WITH scored AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS score,
               l_orderkey, l_linenumber,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               NTILE(10) OVER (ORDER BY l_discount DESC, l_orderkey, l_linenumber)
                   AS decile
        FROM lineitem
    ),
    per_decile AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM scored GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt
            FROM per_decile),
    cum AS (
        SELECT decile, n, pos,
               SUM(n) OVER (ORDER BY decile
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
               SUM(pos) OVER (ORDER BY decile
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpos
        FROM per_decile
    )
    SELECT decile, n, pos,
           ROUND(pos * 1.0 / n, 6) AS response_rate,
           ROUND(cpos * 1.0 / pt, 6) AS cum_capture,
           ROUND((cpos * 1.0 / pt) / (cn * 1.0 / nt), 6) AS cum_lift
    FROM cum, tot
    ORDER BY decile
    """,
)
def model_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table (the classic response-model evaluation
    artifact of direct marketing and churn scoring, public): rank rows
    by a score (discount, as the standing stand-in signal for returns),
    cut into 10 equal deciles, and report per-decile response rate plus
    cumulative capture and lift — 'the top 20% of scores captures X% of
    responders'. Complements model_auc_roc (threshold-free) and
    model_calibration_ece (probability quality) with the
    business-facing view.

    Determinism: NTILE runs over a TOTAL order (score DESC, orderkey,
    linenumber), so decile membership is identical in both engines;
    counts and cumulative sums are exact; ratios round 6dp.

    Scale shape (r8 rework, VERDICT r7 item 4): the NTILE is computed
    from the two-phase sharded prefix rank (rank within equal scores +
    distinct-score cumulative offsets, rank_utils.global_row_index) —
    bit-identical to the single-partition NTILE, but no corpus-sized
    window partition; everything after is an 11-row rollup."""
    from data_ingestor_web_app_spark.operators.rank_utils import (
        global_row_index,
        ntile_from_index,
    )

    li = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
        "l_discount",
        "l_orderkey",
        "l_linenumber",
    )
    idx = global_row_index(
        li, "l_discount", ["l_orderkey", "l_linenumber"], descending=True
    )
    scored = idx.crossJoin(
        F.broadcast(li.agg(F.count("*").cast("long").alias("__n")))
    ).select(
        "y",
        ntile_from_index(F.col("__i"), F.col("__n"), 10).alias("decile"),
    )
    per_decile = scored.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("pos")
    )
    tot = per_decile.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("pos").cast("long").alias("pt")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_decile.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "pos",
            F.round(F.col("pos") / F.col("n"), 6).alias("response_rate"),
            F.round(F.col("cpos") / F.col("pt"), 6).alias("cum_capture"),
            F.round((F.col("cpos") / F.col("pt")) / (F.col("cn") / F.col("nt")), 6).alias(
                "cum_lift"
            ),
        )
        .orderBy("decile")
    )


@query(
    "agg_contingency_residuals",
    oracle="""
    WITH cell AS (
        SELECT n.n_name, o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS observed
        FROM orders o
        JOIN customer c ON c_custkey = o_custkey
        JOIN nation n ON n_nationkey = c_nationkey
        GROUP BY n.n_name, o.o_orderstatus
    ),
    margins AS (
        SELECT n_name, o_orderstatus, observed,
               SUM(observed) OVER (PARTITION BY n_name) AS row_total,
               SUM(observed) OVER (PARTITION BY o_orderstatus) AS col_total,
               SUM(observed) OVER () AS grand
        FROM cell
    )
    SELECT n_name, o_orderstatus, observed,
           ROUND(CAST(row_total AS DOUBLE) * col_total / grand, 4) AS expected,
           ROUND((observed - CAST(row_total AS DOUBLE) * col_total / grand)
                 / SQRT(CAST(row_total AS DOUBLE) * col_total / grand
                        * (1 - CAST(row_total AS DOUBLE) / grand)
                        * (1 - CAST(col_total AS DOUBLE) / grand)), 4)
               AS std_residual
    FROM margins
    ORDER BY n_name, o_orderstatus
    """,
)
def agg_contingency_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted standardized residuals (Haberman 1973, public) of the
    nation x order-status contingency table: per-cell
    (O - E)/sqrt(E(1-rowP)(1-colP)) — the diagnostic that tells you
    WHICH cells drive a significant chi-square (agg_chi_square reports
    only the global statistic), each residual ~N(0,1) under
    independence.

    Determinism: observed counts and margins are exact BIGINTs (margins
    via RANGE-complete partition windows, no ordered frame at all); the
    residual is one fixed double formula rounded 4dp.

    Scale shape: one groupBy to cells, then windows over the tiny cell
    grid (|nations| x |statuses|); margins never touch raw rows
    twice."""
    cell = (
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "o_orderstatus")
        .agg(F.count("*").cast("long").alias("observed"))
    )
    margins = cell.select(
        "n_name",
        "o_orderstatus",
        "observed",
        F.sum("observed").over(Window.partitionBy("n_name")).alias("row_total"),
        F.sum("observed").over(Window.partitionBy("o_orderstatus")).alias("col_total"),
        F.sum("observed").over(Window.partitionBy()).alias("grand"),
    )
    expected = F.col("row_total").cast("double") * F.col("col_total") / F.col("grand")
    resid = (F.col("observed") - expected) / F.sqrt(
        expected
        * (1 - F.col("row_total").cast("double") / F.col("grand"))
        * (1 - F.col("col_total").cast("double") / F.col("grand"))
    )
    return margins.select(
        "n_name",
        "o_orderstatus",
        "observed",
        F.round(expected, 4).alias("expected"),
        F.round(resid, 4).alias("std_residual"),
    ).orderBy("n_name", "o_orderstatus")
