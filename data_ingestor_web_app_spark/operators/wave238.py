"""Wave-238: shrinkage and survey-weighting estimators — James-Stein /
Efron-Morris shrunk group means, iterative proportional fitting (raking)
with two unrolled sweeps, and the Newey-West HAC long-run variance. The
three tools that turn raw slice means into publishable ones: shrink the
noisy slices, rake to known margins, widen the error bars for serial
correlation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K_BUCKETS = 50


@query(
    "agg_james_stein",
    oracle=f"""
    WITH g AS (
        SELECT user_id % {_K_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS xg,
               SUM(value * value) AS sq
        FROM events GROUP BY 1
    ),
    pool AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(n * xg) / SUM(n) AS grand,
               SUM(sq - n * xg * xg) / (SUM(n) - COUNT(*)) AS s2
        FROM g
    ),
    s AS (
        SELECT SUM((xg - p.grand) * (xg - p.grand)) AS sdev
        FROM g CROSS JOIN pool p
    )
    SELECT g.bucket, g.n,
           ROUND(g.xg, 6) AS raw_mean,
           ROUND(GREATEST(0.0, 1 - (p.k - 3) * (p.s2 / g.n) / s.sdev), 6)
               AS shrink_b,
           ROUND(p.grand + GREATEST(0.0, 1 - (p.k - 3) * (p.s2 / g.n)
                                         / s.sdev)
                           * (g.xg - p.grand), 6) AS js_mean
    FROM g CROSS JOIN pool p CROSS JOIN s
    """,
)
def agg_james_stein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-part James-Stein shrinkage of per-bucket mean event
    values toward the grand mean (James & Stein 1961; Efron & Morris,
    JASA 1975, public — the unequal-n variant from the baseball paper):
    js_g = grand + B_g * (xbar_g - grand), B_g = max(0, 1 - (k-3) *
    (s2/n_g) / sum_g (xbar_g - grand)^2), with s2 the pooled
    within-bucket variance. Buckets with few events shrink hardest —
    the estimator that dominates raw slice means whenever k >= 4.

    Exactness device: pooled variance from raw sums (sq - n*xg^2 is the
    one-pass within-bucket SSE); GREATEST mirrors F.greatest; three
    rounded chains.

    Scale shape: one map-side-combinable groupBy over the scan, then
    50-row broadcast arithmetic. At 100 TB the bucket key becomes the
    real slice (country x app-version) and the plan is unchanged."""
    g = (
        table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % _K_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.avg("value").alias("xg"),
            F.sum(F.col("value") * F.col("value")).alias("sq"),
        )
    )
    pool = g.agg(
        F.count("*").cast("long").alias("k"),
        (F.sum(F.col("n") * F.col("xg")) / F.sum("n")).alias("grand"),
        (
            F.sum(F.col("sq") - F.col("n") * F.col("xg") * F.col("xg"))
            / (F.sum("n") - F.count("*"))
        ).alias("s2"),
    )
    s = (
        g.crossJoin(F.broadcast(pool))
        .agg(
            F.sum(
                (F.col("xg") - F.col("grand"))
                * (F.col("xg") - F.col("grand"))
            ).alias("sdev")
        )
    )
    b = F.greatest(
        F.lit(0.0),
        1 - (F.col("k") - 3) * (F.col("s2") / F.col("n")) / F.col("sdev"),
    )
    return (
        g.crossJoin(F.broadcast(pool))
        .crossJoin(F.broadcast(s))
        .select(
            "bucket",
            "n",
            F.round("xg", 6).alias("raw_mean"),
            F.round(b, 6).alias("shrink_b"),
            F.round(
                F.col("grand") + b * (F.col("xg") - F.col("grand")), 6
            ).alias("js_mean"),
        )
    )


@query(
    "agg_raking_ipf",
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
        SELECT et, dow, n,
               w * ((t / CAST(nc AS DOUBLE))
                    / SUM(w) OVER (PARTITION BY dow)) AS w
        FROM r2 CROSS JOIN tot
    )
    SELECT et, dow, n,
           ROUND(w, 6) AS fitted,
           ROUND(w / n, 6) AS weight
    FROM c2
    """,
)
def agg_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / iterative proportional fitting (Deming & Stephan, AMS
    1940, public) of the event_type x weekday contingency table to
    UNIFORM target margins, two full row+column sweeps unrolled: each
    sweep rescales cells so one margin matches its target exactly while
    the other drifts, converging geometrically. Emits the fitted cell
    count and the per-cell raking weight — the survey-statistics answer
    to "reweight this panel so weekdays and event types are balanced".

    Exactness device: sweeps are window-sum rescalings (no iteration
    state), identical expression order in both engines, rounded once at
    the end; margins and totals stay BIGINT until the single division.

    Scale shape: one fact rollup, then window ops over the 35-cell
    frame. With real margins the targets arrive as a broadcast dim."""
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
    r1 = base.withColumn(
        "w", F.col("n") * (row_target / F.sum("n").over(wr))
    )
    c1 = r1.withColumn("w", F.col("w") * (col_target / F.sum("w").over(wc)))
    r2 = c1.withColumn("w", F.col("w") * (row_target / F.sum("w").over(wr)))
    c2 = r2.withColumn("w", F.col("w") * (col_target / F.sum("w").over(wc)))
    return c2.select(
        "et",
        "dow",
        "n",
        F.round("w", 6).alias("fitted"),
        F.round(F.col("w") / F.col("n"), 6).alias("weight"),
    )


_NW_L = 6


@query(
    "agg_newey_west",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    ),
    xb AS (SELECT AVG(x) AS xbar, CAST(COUNT(*) AS BIGINT) AS t FROM hourly),
    d AS (
        SELECT hidx, x - xb.xbar AS e,
               ROW_NUMBER() OVER (ORDER BY hidx) AS rn
        FROM hourly CROSS JOIN xb
    ),
    gam AS (
        SELECT k.k,
               SUM(a.e * b.e) / ANY_VALUE(xb.t) AS gamma_k
        FROM (SELECT UNNEST(RANGE(0, {_NW_L + 1})) AS k) k
        JOIN d a ON TRUE
        JOIN d b ON b.rn = a.rn - k.k
        CROSS JOIN xb
        GROUP BY k.k
    ),
    lrv AS (
        SELECT SUM(CASE WHEN k = 0 THEN gamma_k
                        ELSE 2 * (1 - k / ({_NW_L} + 1.0)) * gamma_k END)
                   AS lrv,
               MAX(CASE WHEN k = 0 THEN gamma_k END) AS gamma0
        FROM gam
    )
    SELECT xb.t AS t_obs,
           ROUND(l.gamma0, 6) AS gamma0,
           ROUND(l.lrv, 6) AS lrv,
           ROUND(l.lrv / l.gamma0, 6) AS inflation,
           ROUND(SQRT(l.lrv / xb.t), 6) AS nw_se_mean
    FROM lrv l CROSS JOIN xb
    """,
)
def agg_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West HAC long-run variance (Newey & West, Econometrica
    1987, public) of the hourly mean-value series with Bartlett kernel
    and L=6 lags: lrv = gamma_0 + 2*sum_{{k=1..L}} (1 - k/(L+1))*gamma_k,
    gamma_k = (1/T) sum e_t e_{{t-k}}. The 'inflation' ratio lrv/gamma_0
    is how much wider honest error bars on the hourly mean must be than
    the i.i.d. ones — the correction every A/B platform forgets when
    metrics autocorrelate.

    Exactness device: autocovariances via an equi-join on the exact
    row-number offset (one join, all lags at once from a RANGE fan-out);
    the Bartlett weights are exact rationals evaluated identically.

    Scale shape: fact scan folds to the hourly frame; the lag join is
    O(T*L) on that bounded frame. Per-slice HAC at 100 TB adds the
    slice key to every partition clause."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"))
    )
    xb = hourly.agg(
        F.avg("x").alias("xbar"), F.count("*").cast("long").alias("t")
    )
    d = (
        hourly.crossJoin(F.broadcast(xb))
        .select(
            "hidx",
            (F.col("x") - F.col("xbar")).alias("e"),
        )
        .withColumn("rn", F.row_number().over(Window.orderBy("hidx")))
    )
    ks = spark.range(0, _NW_L + 1).select(F.col("id").alias("k"))
    a = d.select(F.col("e").alias("ea"), F.col("rn").alias("ra"))
    b = d.select(F.col("e").alias("eb"), F.col("rn").alias("rb"))
    gam = (
        a.crossJoin(F.broadcast(ks))
        .join(F.broadcast(b), F.col("rb") == F.col("ra") - F.col("k"))
        .crossJoin(F.broadcast(xb))
        .groupBy("k")
        .agg((F.sum(F.col("ea") * F.col("eb")) / F.first("t")).alias("gamma_k"))
    )
    lrv = gam.agg(
        F.sum(
            F.when(F.col("k") == 0, F.col("gamma_k")).otherwise(
                2 * (1 - F.col("k") / (_NW_L + 1.0)) * F.col("gamma_k")
            )
        ).alias("lrv"),
        F.max(F.when(F.col("k") == 0, F.col("gamma_k"))).alias("gamma0"),
    )
    return lrv.crossJoin(F.broadcast(xb)).select(
        F.col("t").alias("t_obs"),
        F.round("gamma0", 6).alias("gamma0"),
        F.round("lrv", 6).alias("lrv"),
        F.round(F.col("lrv") / F.col("gamma0"), 6).alias("inflation"),
        F.round(F.sqrt(F.col("lrv") / F.col("t")), 6).alias("nw_se_mean"),
    )
