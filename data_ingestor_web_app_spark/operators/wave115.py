"""Wave-115: Bollinger band breaches on exact integer sums, a local
clustering (transitivity) profile by degree bucket, and a Weibull fit
from per-group L-moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_bollinger_bands",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT))
                          / COUNT(*) / 1000.0) AS BIGINT) AS c
        FROM events GROUP BY event_type, day
    ),
    win AS (
        SELECT event_type, day, c,
               ROW_NUMBER() OVER w AS rn,
               SUM(c) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s,
               SUM(c * c) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS q
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    bands AS (
        SELECT event_type, c,
               CAST(s AS DOUBLE) / 7 AS mean7,
               SQRT(CAST(7 * q - s * s AS DOUBLE) / 42) AS sd7
        FROM win WHERE rn >= 7
    )
    SELECT d.event_type,
           CAST(MAX(d.n_days) AS BIGINT) AS n_days,
           CAST(COUNT(b.c) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN b.c > b.mean7 + 2 * b.sd7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_upper,
           CAST(SUM(CASE WHEN b.c < b.mean7 - 2 * b.sd7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below_lower,
           ROUND(MAX(CASE WHEN b.mean7 > 0 THEN 4 * b.sd7 / b.mean7 END), 6)
               AS max_bandwidth
    FROM (SELECT event_type, COUNT(*) AS n_days FROM daily
          GROUP BY event_type) d
    LEFT JOIN bands b ON b.event_type = d.event_type
    GROUP BY d.event_type
    """,
)
def events_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger band breach audit (Bollinger 1980s, public): the daily
    per-type mean value (milli-scaled to an exact BIGINT close) against a
    7-day moving mean +/- 2 sigma envelope; reports full-window count,
    upper/lower breach counts, and the max relative bandwidth — the
    classic mean-reversion / volatility-expansion readout.

    Determinism: daily closes are single-division rounded BIGINTs; the
    moving mean and population-of-7 variance come from exact integer
    window sums S and Q (var = (7Q - S^2)/42), so the only floats are one
    sqrt and fixed ratio chains — identical IEEE doubles in both engines.

    Scale shape: one map-side-combined daily aggregate shrinks the stream
    by ~|rows|/|type-days|, then a per-type time window over the tiny
    daily frame and a per-type re-aggregate — nothing wide ever sorts."""
    micro = F.round(F.col("value") * 1000000).cast("long")
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.round(F.sum(micro) / F.count("*") / 1000.0).cast("long").alias("c")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-6, 0)
    win = daily.select(
        "event_type",
        "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(wf).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(wf).alias("q"),
    )
    mean7 = F.col("s").cast("double") / 7
    sd7 = F.sqrt((7 * F.col("q") - F.col("s") * F.col("s")).cast("double") / 42)
    bands = win.where(F.col("rn") >= 7).select(
        "event_type",
        "c",
        mean7.alias("mean7"),
        sd7.alias("sd7"),
    )
    n_days = daily.groupBy("event_type").agg(F.count("*").cast("long").alias("n_days"))
    return (
        n_days.join(bands, "event_type", "left")
        .groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.count("c").cast("long").alias("n_windows"),
            F.sum(
                F.when(F.col("c") > F.col("mean7") + 2 * F.col("sd7"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_above_upper"),
            F.sum(
                F.when(F.col("c") < F.col("mean7") - 2 * F.col("sd7"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_below_lower"),
            F.round(
                F.max(
                    F.when(
                        F.col("mean7") > 0, 4 * F.col("sd7") / F.col("mean7")
                    )
                ),
                6,
            ).alias("max_bandwidth"),
        )
    )


_EDGES_SQL = """
    buckets AS (
        SELECT DISTINCT user_id, event_type, DATE_TRUNC('minute', ts) AS m
        FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM buckets a JOIN buckets b
          ON b.event_type = a.event_type AND b.m = a.m
         AND a.user_id < b.user_id
    )
"""


@query(
    "graph_transitivity_profile",
    oracle=f"""
    WITH {_EDGES_SQL},
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    node_tri AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY node
    )
    SELECT CASE WHEN deg >= 16 THEN '16+' WHEN deg >= 8 THEN '08-15'
                WHEN deg >= 4 THEN '04-07' WHEN deg >= 2 THEN '02-03'
                ELSE '01' END AS deg_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(COALESCE(t.n_tri, 0)) AS BIGINT) AS closed_wedges,
           CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS possible_wedges,
           ROUND(CAST(SUM(COALESCE(t.n_tri, 0)) AS DOUBLE)
                 / NULLIF(SUM((deg * (deg - 1)) // 2), 0), 6) AS closure_rate
    FROM deg d LEFT JOIN node_tri t ON t.node = d.node
    GROUP BY deg_bucket
    """,
)
def graph_transitivity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering profile by degree bucket (Watts-Strogatz local
    clustering, public): over the same behavioral co-occurrence graph as
    graph_triangle_count (edge = two users active in one
    (event_type, minute) bucket), bucket nodes by degree and report how
    many of their centered wedges close into triangles — the
    degree-stratified transitivity curve whose downward slope is the
    standard hierarchical-structure signature.

    Determinism: triangle and wedge counts are exact integers; the only
    float is one final ratio per bucket.

    Scale shape: the two-join triangle plan shuffles edges on the wedge
    center then probes the closing edge (both equi-joins); node
    participation is a union-all + groupBy with map-side partials. The
    wedge fan-out sum(deg^2) is the cost driver — at 100 TB the edge list
    is degree-ordered first so wedges are counted from the lower-degree
    endpoint."""
    buckets = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.date_trunc("minute", "ts").alias("m"))
        .distinct()
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    edges = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.m") == F.col("a.m"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    e1 = edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = edges.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = edges.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    node_tri = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    bucket = (
        F.when(F.col("deg") >= 16, "16+")
        .when(F.col("deg") >= 8, "08-15")
        .when(F.col("deg") >= 4, "04-07")
        .when(F.col("deg") >= 2, "02-03")
        .otherwise("01")
    )
    joined = deg.join(node_tri, "node", "left").select(
        bucket.alias("deg_bucket"),
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
    )
    possible = (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
    return joined.groupBy("deg_bucket").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("n_tri").cast("long").alias("closed_wedges"),
        F.sum(possible).cast("long").alias("possible_wedges"),
        F.round(
            F.sum("n_tri").cast("double")
            / F.nullif(F.sum(possible), F.lit(0)),
            6,
        ).alias("closure_rate"),
    )


@query(
    "model_weibull_lmom",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag AS grp,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS i,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    sums AS (
        SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS b0n,
               CAST(CAST(SUM(CAST(i - 1 AS HUGEINT) * x) AS HUGEINT) AS DOUBLE)
                   AS w1,
               CAST(MAX(CASE WHEN i = (n + 1) // 2 THEN x END)
                    AS BIGINT) AS med_c
        FROM ranked GROUP BY grp
    ),
    lm AS (
        SELECT grp, n,
               CAST(b0n AS DOUBLE) / n AS b0,
               2 * (w1 / (CAST(n AS DOUBLE) * (n - 1))) - CAST(b0n AS DOUBLE) / n
                   AS l2,
               CAST(med_c AS DOUBLE) / 100 AS med
        FROM sums
    )
    SELECT grp, n,
           ROUND(b0 / 100, 4) AS l1_mean,
           ROUND(l2 / 100, 4) AS l2_scale,
           ROUND(-LN(2) / LN(1 - l2 / b0), 6) AS weibull_k,
           ROUND(med / POW(LN(2), 1 / (-LN(2) / LN(1 - l2 / b0))), 4)
               AS weibull_scale
    FROM lm
    """,
)
def model_weibull_lmom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit from L-moments (Hosking 1990, public), per return
    flag: for a two-parameter Weibull the L-CV is tau = 1 - 2^(-1/k), so
    the shape solves in closed form k = -ln2 / ln(1 - tau), and the scale
    eta follows gamma-function-free from the group median
    (median = eta * ln2^(1/k)) — the reliability-engineering fit that is
    robust where method-of-moments on skewed data is not.

    Determinism: per-group ranks have a total order (price, orderkey,
    linenumber); b0/b1 are exact integer rank-weighted sums (DECIMAL /
    HUGEINT wide) cast once to double; the median is a rank-SELECTED
    lower median (never interpolated); k and eta are fixed ln/pow chains
    rounded 6/4dp.

    Scale shape: one per-group sort for ranks (range partition within
    group at 100 TB), one moment aggregate per group — same price as
    agg_l_moments, paid per group."""
    wrank = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"),
        F.row_number().over(wrank).alias("i"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    sums = ranked.groupBy("grp").agg(
        F.max("n").cast("long").alias("n"),
        F.sum("x").cast("long").alias("b0n"),
        F.sum((F.col("i") - 1).cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("w1"),
        F.max(
            F.when(F.col("i") == F.floor((F.col("n") + 1) / 2), F.col("x"))
        )
        .cast("long")
        .alias("med_c"),
    )
    b0 = F.col("b0n").cast("double") / F.col("n")
    b1 = F.col("w1") / (F.col("n").cast("double") * (F.col("n") - 1))
    l2 = 2 * b1 - b0
    k = -F.log(F.lit(2.0)) / F.log(1 - l2 / b0)
    med = F.col("med_c").cast("double") / 100
    return sums.select(
        "grp",
        "n",
        F.round(b0 / 100, 4).alias("l1_mean"),
        F.round(l2 / 100, 4).alias("l2_scale"),
        F.round(k, 6).alias("weibull_k"),
        F.round(med / F.pow(F.log(F.lit(2.0)), 1 / k), 4).alias("weibull_scale"),
    )
