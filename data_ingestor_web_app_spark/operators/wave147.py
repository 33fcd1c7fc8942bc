"""Wave-147: group fairness audit — per-group confusion rates, parity
gaps, and group calibration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# fixed audit setup: protected attribute = customer market segment;
# label = order fully shipped (o_orderstatus = 'F'); classifier =
# high-value flag (o_totalprice > 150000). All three are fixture-stable.
_BASE_SQL = """
    b AS (
        SELECT c.c_mktsegment AS grp,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS yhat
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yhat) AS BIGINT) AS sel,
               CAST(SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM b GROUP BY grp
    )
"""


@query(
    "model_fairness_group_metrics",
    oracle=f"""
    WITH {_BASE_SQL}
    SELECT grp, n, sel, pos,
           ROUND(sel * 1e0 / n, 6) AS selection_rate,
           ROUND(tp * 1e0 / pos, 6) AS tpr,
           ROUND(fp * 1e0 / (n - pos), 6) AS fpr,
           ROUND(tp * 1e0 / sel, 6) AS precision_g
    FROM g
    """,
)
def model_fairness_group_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group fairness metrics (Hardt, Price & Srebro, NeurIPS 2016
    framing, public) for a fixed high-value classifier audited across
    customer market segments: selection rate (demographic-parity
    ingredient), TPR/FPR (equalized-odds ingredients), and per-group
    precision (calibration-within-groups ingredient). The raw table any
    fairness report starts from.

    Determinism: every metric is an exact count ratio rounded once.

    Scale shape: fact-dim join (customer broadcastable at dim scale),
    one map-side-combined groupBy, ratio projection."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey")).select(
        F.col("c_mktsegment").alias("grp"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("yhat"),
    )
    g = b.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yhat").cast("long").alias("sel"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum("y").cast("long").alias("pos"),
    )
    return g.select(
        "grp",
        "n",
        "sel",
        "pos",
        F.round(F.col("sel") * F.lit(1.0) / F.col("n"), 6).alias("selection_rate"),
        F.round(F.col("tp") * F.lit(1.0) / F.col("pos"), 6).alias("tpr"),
        F.round(F.col("fp") * F.lit(1.0) / (F.col("n") - F.col("pos")), 6).alias(
            "fpr"
        ),
        F.round(F.col("tp") * F.lit(1.0) / F.col("sel"), 6).alias("precision_g"),
    )


@query(
    "model_fairness_parity_gaps",
    oracle=f"""
    WITH {_BASE_SQL},
    rates AS (
        SELECT grp,
               sel * 1e0 / n AS sr,
               tp * 1e0 / pos AS tpr,
               fp * 1e0 / (n - pos) AS fpr
        FROM g
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           ROUND(MAX(sr) - MIN(sr), 6) AS demographic_parity_gap,
           ROUND(MIN(sr) / MAX(sr), 6) AS disparate_impact_ratio,
           ROUND(MAX(tpr) - MIN(tpr), 6) AS equal_opportunity_gap,
           ROUND(MAX(fpr) - MIN(fpr), 6) AS fpr_gap,
           CASE WHEN MIN(sr) / MAX(sr) >= 0.8 THEN TRUE ELSE FALSE END
               AS passes_four_fifths
    FROM rates
    """,
)
def model_fairness_parity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline fairness gaps across the segment groups: demographic
    parity gap (max−min selection rate), disparate impact ratio with the
    EEOC four-fifths rule flag (29 CFR 1607.4, public), equal
    opportunity gap (max TPR spread; Hardt et al. 2016), and the FPR
    spread completing equalized odds. The one-row scorecard a model
    gate checks before shipping.

    Determinism: rates are exact ratios; extremes and gaps are pure
    comparisons on identical doubles.

    Scale shape: everything after the per-group collapse runs on k=5
    rows."""
    g = model_fairness_group_metrics(spark, sf_dir).select(
        "grp",
        F.col("selection_rate").alias("sr"),
        "tpr",
        F.col("fpr").alias("fpr"),
    )
    # recompute unrounded rates for gap math identical to the oracle
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey")).select(
        F.col("c_mktsegment").alias("grp"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("yhat"),
    )
    gg = b.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yhat").cast("long").alias("sel"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum("y").cast("long").alias("pos"),
    )
    rates = gg.select(
        (F.col("sel") * F.lit(1.0) / F.col("n")).alias("sr"),
        (F.col("tp") * F.lit(1.0) / F.col("pos")).alias("tpr"),
        (F.col("fp") * F.lit(1.0) / (F.col("n") - F.col("pos"))).alias("fpr"),
    )
    return rates.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.round(F.max("sr") - F.min("sr"), 6).alias("demographic_parity_gap"),
        F.round(F.min("sr") / F.max("sr"), 6).alias("disparate_impact_ratio"),
        F.round(F.max("tpr") - F.min("tpr"), 6).alias("equal_opportunity_gap"),
        F.round(F.max("fpr") - F.min("fpr"), 6).alias("fpr_gap"),
        (F.min("sr") / F.max("sr") >= 0.8).alias("passes_four_fifths"),
    )
