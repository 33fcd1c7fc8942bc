"""Wave-265: two "how much data do I really have" diagnostics — Kish's
design effect and effective sample size over the wave-238 raking
weights, and the extremal index via runs declustering (how much the
tail CLUSTERS, i.e. how many of my extremes are really one incident).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_kish_deff",
    oracle="""
    WITH cells AS (
        SELECT event_type AS et, DAYOFWEEK(ts) + 1 AS dow,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                   CAST(COUNT(DISTINCT et) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT dow) AS BIGINT) AS nc
            FROM cells),
    r1 AS (
        SELECT et, dow, n,
               n * ((t / CAST(nr AS DOUBLE))
                    / SUM(n) OVER (PARTITION BY et)) AS w
        FROM cells CROSS JOIN tot
    ),
    c1 AS (
        SELECT et, dow, n,
               w * ((t / CAST(nc AS DOUBLE))
                    / SUM(w) OVER (PARTITION BY dow)) AS w
        FROM r1 CROSS JOIN tot
    ),
    r2 AS (
        SELECT et, dow, n,
               w * ((t / CAST(nr AS DOUBLE))
                    / SUM(w) OVER (PARTITION BY et)) AS w
        FROM c1 CROSS JOIN tot
    ),
    c2 AS (
        SELECT et, dow, n, w * ((t / CAST(nc AS DOUBLE))
                                / SUM(w) OVER (PARTITION BY dow)) AS w
        FROM r2 CROSS JOIN tot
    ),
    perunit AS (
        SELECT n, w / n AS wu FROM c2
    ),
    mom AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               SUM(n * wu) AS s1,
               SUM(n * wu * wu) AS s2
        FROM perunit
    )
    SELECT nn AS n_units,
           ROUND(s1 / nn, 6) AS mean_weight,
           ROUND(nn * s2 / (s1 * s1), 6) AS deff_kish,
           ROUND(s1 * s1 / s2, 6) AS n_effective,
           ROUND(1.0 - (s1 * s1 / s2) / nn, 6) AS efficiency_loss
    FROM mom
    """,
)
def model_kish_deff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish's design effect for unequal weighting (Kish, Survey
    Sampling 1965, public) applied to the agg_raking_ipf weights
    (wave238 — two unrolled IPF sweeps to uniform margins): deff =
    n * sum(w^2) / (sum w)^2 = 1 + cv^2(w), effective sample size
    n_eff = (sum w)^2 / sum(w^2), and the efficiency loss 1 - n_eff/n.
    THE number to report next to any reweighted estimate: raking to
    margins costs variance, and deff is exactly how much.

    Exactness device: the IPF sweep chain is wave238's verbatim; the
    per-unit weight w/n expands via cell counts (n * wu sums — no
    per-event fan-out); three rounded chains.

    Scale shape: identical to agg_raking_ipf plus one moment aggregate
    over the 35-cell frame."""
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("et"),
            F.dayofweek("ts").cast("long").alias("dow"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("t"),
        F.count_distinct("et").cast("long").alias("nr"),
        F.count_distinct("dow").cast("long").alias("nc"),
    )
    base = cells.crossJoin(F.broadcast(tot))
    wr = Window.partitionBy("et")
    wc = Window.partitionBy("dow")
    row_target = F.col("t") / F.col("nr").cast("double")
    col_target = F.col("t") / F.col("nc").cast("double")
    r1 = base.withColumn("w", F.col("n") * (row_target / F.sum("n").over(wr)))
    c1 = r1.withColumn("w", F.col("w") * (col_target / F.sum("w").over(wc)))
    r2 = c1.withColumn("w", F.col("w") * (row_target / F.sum("w").over(wr)))
    c2 = r2.withColumn("w", F.col("w") * (col_target / F.sum("w").over(wc)))
    perunit = c2.select("n", (F.col("w") / F.col("n")).alias("wu"))
    mom = perunit.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("n") * F.col("wu")).alias("s1"),
        F.sum(F.col("n") * F.col("wu") * F.col("wu")).alias("s2"),
    )
    return mom.select(
        F.col("nn").alias("n_units"),
        F.round(F.col("s1") / F.col("nn"), 6).alias("mean_weight"),
        F.round(
            F.col("nn") * F.col("s2") / (F.col("s1") * F.col("s1")), 6
        ).alias("deff_kish"),
        F.round(F.col("s1") * F.col("s1") / F.col("s2"), 6).alias(
            "n_effective"
        ),
        F.round(
            1.0 - (F.col("s1") * F.col("s1") / F.col("s2")) / F.col("nn"), 6
        ).alias("efficiency_loss"),
    )


_RUN_GAP = 3  # hours between exceedances that separates clusters


@query(
    "events_extremal_index",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY hidx) AS t
        FROM hourly
    ),
    thr AS (
        SELECT PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY x) AS u
        FROM idx
    ),
    exc AS (
        SELECT t FROM idx CROSS JOIN thr WHERE x > thr.u
    ),
    gaps AS (
        SELECT t, t - LAG(t) OVER (ORDER BY t) AS gap FROM exc
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exc,
               CAST(1 + SUM(CASE WHEN gap > {_RUN_GAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clusters,
               AVG(CASE WHEN gap IS NOT NULL AND gap <= {_RUN_GAP}
                        THEN gap END) AS mean_intra_gap
        FROM gaps
    )
    SELECT (SELECT ROUND(u, 6) FROM thr) AS threshold,
           n_exc AS n_exceedances,
           n_clusters,
           ROUND(n_clusters / CAST(n_exc AS DOUBLE), 6) AS theta_runs,
           ROUND(COALESCE(mean_intra_gap, 0.0), 6) AS mean_intra_gap_h
    FROM stats
    """,
)
def events_extremal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extremal index by runs declustering (Smith & Weissman, JRSS-B
    1994, public): exceedances of the hourly series over its exact P95
    order statistic are grouped into clusters separated by more than
    r = 3 quiet hours; theta_hat = clusters / exceedances estimates the
    extremal index — theta = 1 means independent extremes, theta << 1
    means one real incident masquerades as 1/theta alarms. The number
    that corrects events_pot_gpd_fit's effective sample size and any
    return-period estimate on clustered data.

    Exactness device: the threshold is an exact order statistic; gaps
    and cluster counts are integers; one division.

    Scale shape: hourly rollup, one ordered lag window over the ~5%
    exceedance frame — declustering as a window, not a scan loop."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"))
    )
    idx = hourly.select(
        "x", F.row_number().over(Window.orderBy("hidx")).alias("t")
    )
    thr = idx.agg(
        F.expr(
            "element_at(array_sort(collect_list(x)),"
            " cast(ceil(count(*) * 0.95) as int))"
        ).alias("u")
    )
    exc = idx.crossJoin(F.broadcast(thr)).where(F.col("x") > F.col("u"))
    gaps = exc.select(
        "t", (F.col("t") - F.lag("t").over(Window.orderBy("t"))).alias("gap")
    )
    stats = gaps.agg(
        F.count("*").cast("long").alias("n_exc"),
        (
            1
            + F.sum(F.when(F.col("gap") > _RUN_GAP, 1).otherwise(0))
        )
        .cast("long")
        .alias("n_clusters"),
        F.avg(
            F.when(
                F.col("gap").isNotNull() & (F.col("gap") <= _RUN_GAP),
                F.col("gap"),
            )
        ).alias("mean_intra_gap"),
    )
    return stats.crossJoin(F.broadcast(thr)).select(
        F.round("u", 6).alias("threshold"),
        F.col("n_exc").alias("n_exceedances"),
        "n_clusters",
        F.round(
            F.col("n_clusters") / F.col("n_exc").cast("double"), 6
        ).alias("theta_runs"),
        F.round(F.coalesce("mean_intra_gap", F.lit(0.0)), 6).alias(
            "mean_intra_gap_h"
        ),
    )
