"""Wave-287: the Weibull probability plot (median-rank regression — the
reliability engineer's distribution screen) and triangle counting under
md5 edge sparsification (the Tsourakakis/DOULION estimator audited
against the exact count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_weibull_plot_fit",
    oracle="""
    WITH gaps AS (
        SELECT (epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (ORDER BY ts, event_id)) / 1000000.0 AS g
        FROM events
    ),
    gg AS (SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0),
    ranked AS (
        SELECT g, ROW_NUMBER() OVER (ORDER BY g, 1) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM gg
    ),
    pts AS (
        SELECT LN(g) AS lx,
               LN(-LN(1 - (i - 0.3) / (n + 0.4))) AS ly
        FROM ranked
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               / (SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx)) AS beta,
               AVG(ly) - (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
                         / (SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx))
                         * AVG(lx) AS a,
               (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               * (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               / ((SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx))
                  * (SUM(ly * ly) - COUNT(*) * AVG(ly) * AVG(ly))) AS r2
        FROM pts
    )
    SELECT n AS n_gaps,
           ROUND(beta, 6) AS weibull_shape,
           ROUND(EXP(-a / beta), 6) AS weibull_scale_s,
           ROUND(r2, 6) AS plot_r2,
           beta < 1 AS decreasing_hazard
    FROM fit
    """,
)
def model_weibull_plot_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull probability-plot fit by median-rank regression (Weibull
    1951; Benard's approximation (i-0.3)/(n+0.4) for median ranks,
    public): regress ln(-ln(1-F_i)) on ln(x_(i)) over the sorted
    inter-event gaps — slope = the Weibull shape beta, intercept gives
    the scale eta = exp(-a/beta), and the plot's R^2 is the visual
    straightness every reliability engineer eyeballs, here as a
    number. beta < 1 (the in-band flag) means decreasing hazard —
    consistent with events_hazard_profile's decile view and the
    clustering read of events_goh_barabasi. The regression alternative
    to agg_weibull_lmom's L-moment fit — two estimators, one truth,
    cross-checkable.

    Exactness device: median ranks are exact rationals of the order
    index; both logs chain identically; ties in g leave the SUM of
    plot points invariant (same multiset of (lx, ly) pairs either
    order).

    Scale shape (r8 rework, VERDICT r7 item 4): the g > 0 filter means
    the gap multiset is exactly the diffs of consecutive DISTINCT
    timestamps (same-ts pairs produce the excluded zeros), so the lag
    runs over the distinct-ts frame (a window over an Aggregate), and
    the ranks come from the two-phase sharded prefix rank
    (rank_utils.global_row_index; tie ranks within equal g permute only
    within the tie range, which leaves every fitted sum invariant —
    the docstring's multiset argument). One moment aggregate after."""
    from data_ingestor_web_app_spark.operators.rank_utils import global_row_index

    e = table(spark, sf_dir, "events")
    dts = e.select("ts").distinct()
    gaps = (
        dts.select(
            "ts",
            (
                (
                    F.expr("unix_micros(ts)")
                    - F.lag(F.expr("unix_micros(ts)")).over(Window.orderBy("ts"))
                )
                / 1000000.0
            ).alias("g"),
        )
        .where(F.col("g").isNotNull() & (F.col("g") > 0))
    )
    ranked = global_row_index(gaps, "g", "ts").crossJoin(
        F.broadcast(gaps.agg(F.count("*").cast("long").alias("n")))
    ).select("g", F.col("__i").alias("i"), "n")
    pts = ranked.select(
        F.log("g").alias("lx"),
        F.log(
            -F.log(1 - (F.col("i") - 0.3) / (F.col("n") + 0.4))
        ).alias("ly"),
    )
    sxx = F.sum(F.col("lx") * F.col("lx")) - F.count("*") * F.avg("lx") * F.avg("lx")
    syy = F.sum(F.col("ly") * F.col("ly")) - F.count("*") * F.avg("ly") * F.avg("ly")
    sxy = F.sum(F.col("lx") * F.col("ly")) - F.count("*") * F.avg("lx") * F.avg("ly")
    fit = pts.agg(
        F.count("*").cast("long").alias("n"),
        (sxy / sxx).alias("beta"),
        (F.avg("ly") - (sxy / sxx) * F.avg("lx")).alias("a"),
        (sxy * sxy / (sxx * syy)).alias("r2"),
    )
    return fit.select(
        F.col("n").alias("n_gaps"),
        F.round("beta", 6).alias("weibull_shape"),
        F.round(F.exp(-F.col("a") / F.col("beta")), 6).alias(
            "weibull_scale_s"
        ),
        F.round("r2", 6).alias("plot_r2"),
        (F.col("beta") < 1).alias("decreasing_hazard"),
    )


@query(
    "graph_triangle_sparsification",
    oracle="""
    WITH buckets AS (
        SELECT DISTINCT user_id, event_type, DATE_TRUNC('minute', ts) AS m
        FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM buckets a
        JOIN buckets b ON b.event_type = a.event_type AND b.m = a.m
                      AND a.user_id < b.user_id
    ),
    kept AS (
        SELECT u, v FROM edges
        WHERE CAST('0x' || SUBSTR(MD5('sp:' || u || ':' || v), 1, 8)
                   AS BIGINT) % 2 = 0
    ),
    tri_exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM edges e1 JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tri_kept AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM kept e1 JOIN kept e2 ON e2.u = e1.v
        JOIN kept e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_kept,
           x.t AS triangles_exact,
           k.t AS triangles_sampled,
           ROUND(k.t * 8.0, 6) AS triangles_estimated,
           CASE WHEN x.t = 0 THEN 0.0
                ELSE ROUND((k.t * 8.0 - x.t) / x.t, 6) END AS rel_error
    FROM tri_exact x CROSS JOIN tri_kept k
    """,
)
def graph_triangle_sparsification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOULION triangle estimation by edge sparsification (Tsourakakis,
    Kang, Miller & Faloutsos, KDD 2009, public): keep each edge with
    p = 1/2 (an md5 coin on the edge key — derandomized, so the
    'sample' is reproducible and hash-checkable), count triangles on
    the kept graph, scale by 1/p^3 = 8. Emitted next to the EXACT
    count with the realized relative error — the sketch-audit
    discipline (agg_countmin_exact, agg_linear_counting) applied to
    graph counting: at 100 TB you run the left column; this op
    measures what that buys and costs.

    Exactness device: the coin is an exact integer md5 parity on the
    canonical edge key; both triangle counts are integer joins.

    Scale shape: the sampled join touches ~1/8 of the triangle work —
    the point of the estimator; both counts share the edge build."""
    e = table(spark, sf_dir, "events")
    buckets = e.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    a = buckets.select(F.col("user_id").alias("u"), "event_type", "m")
    b = buckets.select(F.col("user_id").alias("v"), "event_type", "m")
    edges = (
        a.join(b, ["event_type", "m"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    kept = edges.where(
        F.expr(
            "conv(substring(md5(concat('sp:', cast(u as string), ':',"
            " cast(v as string))), 1, 8), 16, 10)"
        ).cast("long")
        % 2
        == 0
    )

    def tri_count(g: DataFrame):
        e1 = g
        e2 = g.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
        e3 = g.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
        return (
            e1.join(e2, F.col("u2") == F.col("v"))
            .join(
                e3,
                (F.col("u3") == F.col("u")) & (F.col("v3") == F.col("v2")),
            )
            .agg(F.count("*").cast("long").alias("t"))
        )

    tx = tri_count(edges).withColumnRenamed("t", "tx")
    tk = tri_count(kept).withColumnRenamed("t", "tk")
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))
    nk = kept.agg(F.count("*").cast("long").alias("n_kept"))
    return (
        ne.crossJoin(F.broadcast(nk))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(tk))
        .select(
            "n_edges",
            "n_kept",
            F.col("tx").alias("triangles_exact"),
            F.col("tk").alias("triangles_sampled"),
            F.round(F.col("tk") * 8.0, 6).alias("triangles_estimated"),
            F.when(F.col("tx") == 0, F.lit(0.0))
            .otherwise(
                F.round((F.col("tk") * 8.0 - F.col("tx")) / F.col("tx"), 6)
            )
            .alias("rel_error"),
        )
    )
