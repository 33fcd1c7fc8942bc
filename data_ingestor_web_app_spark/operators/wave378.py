"""Wave-378: one-covariate ANCOVA adjusted means (Fisher 1932; the
pooled-within-slope formulation of Huitema 2011) and the attribute
g-chart for rare-event intervals (Benneyan, Health Care Management
Science 2001).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_ancova_adjustment",
    oracle="""
    WITH u AS (
        SELECT event_type AS grp,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
               CAST(ROUND(value * 1000) AS BIGINT) AS y
        FROM events
    ),
    g AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(x * x) AS HUGEINT) AS sxx,
               CAST(SUM(x * y) AS HUGEINT) AS sxy
        FROM u GROUP BY grp
    ),
    w AS (
        -- pooled WITHIN-group moments: Sxx_w = sum_g (sxx - sx^2/n),
        -- kept exact by cross-multiplying onto a common denominator is
        -- overkill here: each term is evaluated as the same double
        -- expression in both engines from exact integer moments
        SELECT SUM(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS sxx_w,
               SUM(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) AS sxy_w,
               CAST(SUM(sx) AS DOUBLE) / SUM(n) AS xbar_all
        FROM g
    )
    SELECT g.grp AS event_type,
           g.n,
           ROUND(CAST(g.sy AS DOUBLE) / g.n / 1000, 6) AS raw_mean,
           ROUND(w.sxy_w / w.sxx_w, 6) AS pooled_slope,
           ROUND((CAST(g.sy AS DOUBLE) / g.n
                  - (w.sxy_w / w.sxx_w)
                    * (CAST(g.sx AS DOUBLE) / g.n - w.xbar_all)) / 1000, 6)
               AS adjusted_mean
    FROM g, w
    """,
)
def model_ancova_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-covariate ANCOVA over event values by event type with
    hour-of-day as the covariate: the pooled within-group slope
    b_w = Σ_g Sxy(g) / Σ_g Sxx(g) and each group's covariate-adjusted
    mean ȳ_g − b_w(x̄_g − x̄) — "what would this type's average value be
    if every type saw the same hour mix", the confounder correction every
    observational A/B readout needs before comparing groups.

    Determinism: all moments (n, Σx, Σy, Σx², Σxy) are exact 128-bit
    integers per group; the slope and adjustments are the same double
    expressions in both engines, ROUND 6.

    Scale shape: one groupBy on the (bounded) group key with map-side
    partial moment sums, then a 1-row pooled aggregate broadcast back —
    two linear passes, no window."""
    u = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.hour("ts").cast("long").alias("x"),
        F.round(F.col("value") * 1000).cast("long").alias("y"),
    )
    g = u.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    w = g.agg(
        F.sum(
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
        ).alias("sxx_w"),
        F.sum(
            F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
        ).alias("sxy_w"),
        (F.sum("sx").cast("double") / F.sum("n")).alias("xbar_all"),
    )
    slope = F.col("sxy_w") / F.col("sxx_w")
    return g.crossJoin(F.broadcast(w)).select(
        F.col("grp").alias("event_type"),
        "n",
        F.round(F.col("sy").cast("double") / F.col("n") / 1000, 6).alias(
            "raw_mean"
        ),
        F.round(slope, 6).alias("pooled_slope"),
        F.round(
            (
                F.col("sy").cast("double") / F.col("n")
                - slope
                * (F.col("sx").cast("double") / F.col("n") - F.col("xbar_all"))
            )
            / 1000,
            6,
        ).alias("adjusted_mean"),
    )


@query(
    "events_g_chart",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    errs AS (
        SELECT user_id, rn,
               LAG(rn) OVER (PARTITION BY user_id ORDER BY rn) AS prev_rn
        FROM seq WHERE event_type = 'error'
    ),
    gaps AS (
        SELECT CAST(rn - COALESCE(prev_rn, 0) - 1 AS BIGINT) AS g
        FROM errs
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(SUM(g) AS BIGINT) AS tot
        FROM gaps
    ),
    lim AS (
        SELECT n_gaps,
               CAST(tot AS DOUBLE) / n_gaps AS gbar,
               CAST(tot AS DOUBLE) / n_gaps
                 + 3 * SQRT((CAST(tot AS DOUBLE) / n_gaps)
                            * (CAST(tot AS DOUBLE) / n_gaps + 1)) AS ucl,
               GREATEST(0.0, CAST(tot AS DOUBLE) / n_gaps
                 - 3 * SQRT((CAST(tot AS DOUBLE) / n_gaps)
                            * (CAST(tot AS DOUBLE) / n_gaps + 1))) AS lcl
        FROM s
    )
    SELECT l.n_gaps,
           ROUND(l.gbar, 4) AS mean_gap,
           ROUND(l.ucl, 4) AS ucl,
           ROUND(l.lcl, 4) AS lcl,
           CAST(SUM(CASE WHEN g.g > l.ucl THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_ucl,
           CAST(MAX(g.g) AS BIGINT) AS max_gap
    FROM gaps g, lim l
    GROUP BY l.n_gaps, l.gbar, l.ucl, l.lcl
    """,
)
def events_g_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benneyan g-chart (2001) on per-user inter-error gaps: for each
    'error' event, the number of that user's events since their previous
    error (geometric under a constant error rate); center ḡ and the
    3-sigma geometric limits ḡ ± 3·√(ḡ(ḡ+1)) — the rare-event control
    chart used when a p-chart's subgroups would be almost all zeros.

    Determinism: gaps are exact integers from per-user row numbers with
    (ts, event_id) total order per key; limits are one double expression
    ROUND 4; violations compare exact integers to that same expression.

    Scale shape: both windows are PARTITIONED BY user_id (per-key sorted
    passes — never a global order); the final stats are a 1-row
    aggregate broadcast back for the violation count."""
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    errs = seq.where(F.col("event_type") == "error").select(
        "user_id",
        "rn",
        F.lag("rn").over(Window.partitionBy("user_id").orderBy("rn")).alias("prev_rn"),
    )
    gaps = errs.select(
        (F.col("rn") - F.coalesce(F.col("prev_rn"), F.lit(0)) - 1)
        .cast("long")
        .alias("g")
    )
    s = gaps.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("tot"),
    )
    gbar = F.col("tot").cast("double") / F.col("n_gaps")
    lim = s.select(
        "n_gaps",
        gbar.alias("gbar"),
        (gbar + 3 * F.sqrt(gbar * (gbar + 1))).alias("ucl"),
        F.greatest(F.lit(0.0), gbar - 3 * F.sqrt(gbar * (gbar + 1))).alias("lcl"),
    )
    return (
        gaps.crossJoin(F.broadcast(lim))
        .groupBy("n_gaps", "gbar", "ucl", "lcl")
        .agg(
            F.sum(F.when(F.col("g") > F.col("ucl"), 1).otherwise(0))
            .cast("long")
            .alias("n_above_ucl"),
            F.max("g").cast("long").alias("max_gap"),
        )
        .select(
            "n_gaps",
            F.round(F.col("gbar"), 4).alias("mean_gap"),
            F.round(F.col("ucl"), 4).alias("ucl"),
            F.round(F.col("lcl"), 4).alias("lcl"),
            "n_above_ucl",
            "max_gap",
        )
    )
