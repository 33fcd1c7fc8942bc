"""Wave-156: SAX symbolic series representation and a Huber M-estimator
via unrolled IRLS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_SAX_SEG = 6  # PAA segments
# standard 4-symbol Gaussian breakpoints (Lin et al. 2003 lookup table)
_SAX_BP = (-0.6745, 0.0, 0.6745)


@query(
    "events_sax_representation",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q
        FROM daily
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i FROM daily
    ),
    seg AS (
        SELECT CAST(FLOOR(i * {_SAX_SEG} * 1e0 / (SELECT n FROM st)) AS BIGINT) AS s_id,
               CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(x) AS BIGINT) AS sx
        FROM idx GROUP BY s_id
    ),
    z AS (
        SELECT seg.s_id, seg.cnt,
               (seg.sx * 1e0 / seg.cnt - st.s * 1e0 / st.n)
               / SQRT((st.q - CAST(st.s AS DOUBLE) * st.s / st.n) / st.n)
                   AS zbar
        FROM seg CROSS JOIN st
    )
    SELECT s_id AS segment, cnt AS seg_days, ROUND(zbar, 6) AS paa_z,
           CASE WHEN zbar < {_SAX_BP[0]} THEN 'a'
                WHEN zbar < {_SAX_BP[1]} THEN 'b'
                WHEN zbar < {_SAX_BP[2]} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    """,
)
def events_sax_representation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin, Keogh, Lonardi & Chiu,
    DMKD 2003, public): the z-normalized daily series is piecewise-
    aggregate-approximated into 6 segments and each segment mean maps
    through the standard 4-symbol Gaussian breakpoints (±0.6745, 0) to a
    letter — the discretization that lets time series use string
    algorithms (suffix trees, hashing, the winnowing/shingle machinery
    above) for motif and anomaly mining.

    Determinism: segment assignment is exact integer arithmetic
    (i·S // n); segment means and the global z-chain are single double
    chains from exact sums; breakpoints are literals.

    Scale shape: daily collapse, one segment groupBy, broadcast global
    moments."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    st = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    idx = daily.select(
        "x", (F.row_number().over(Window.orderBy("day")) - 1).alias("i")
    )
    seg = (
        idx.crossJoin(F.broadcast(st.select("n")))
        .select(F.floor(F.col("i") * _SAX_SEG / F.col("n")).alias("s_id"), "x")
        .groupBy("s_id")
        .agg(F.count("*").cast("long").alias("cnt"), F.sum("x").cast("long").alias("sx"))
    )
    z = seg.crossJoin(F.broadcast(st)).select(
        "s_id",
        "cnt",
        (
            (F.col("sx") * F.lit(1.0) / F.col("cnt") - F.col("s") * F.lit(1.0) / F.col("n"))
            / F.sqrt(
                (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / F.col("n")
            )
        ).alias("zbar"),
    )
    sym = (
        F.when(F.col("zbar") < _SAX_BP[0], "a")
        .when(F.col("zbar") < _SAX_BP[1], "b")
        .when(F.col("zbar") < _SAX_BP[2], "c")
        .otherwise("d")
    )
    return z.select(
        F.col("s_id").alias("segment"),
        F.col("cnt").alias("seg_days"),
        F.round("zbar", 6).alias("paa_z"),
        sym.alias("symbol"),
    )


_HUBER_K_MILLI = 1345  # k = 1.345 sigma (95% efficiency constant)


@query(
    "agg_huber_m_estimator",
    oracle=f"""
    WITH v AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS x,
               event_id, CAST(ts AS DATE) AS day
        FROM events
    ),
    med AS (
        SELECT event_type, x AS m0 FROM (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY x, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM v) t
        WHERE rn = (n + 1) // 2
    ),
    mad AS (
        SELECT event_type, z AS s0 FROM (
            SELECT v.event_type, ABS(v.x - m.m0) AS z,
                   ROW_NUMBER() OVER (PARTITION BY v.event_type
                                      ORDER BY ABS(v.x - m.m0), v.event_id)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY v.event_type) AS n
            FROM v JOIN med m USING (event_type)) t
        WHERE rn = (n + 1) // 2
    ),
    it1 AS (
        SELECT v.event_type,
               SUM(CASE WHEN ABS(v.x - m.m0) * 1000 <= {_HUBER_K_MILLI} * d.s0
                        THEN v.x * 1e0
                        ELSE v.x * ({_HUBER_K_MILLI} * d.s0 * 1e0)
                             / (ABS(v.x - m.m0) * 1000) END) AS wx,
               SUM(CASE WHEN ABS(v.x - m.m0) * 1000 <= {_HUBER_K_MILLI} * d.s0
                        THEN 1e0
                        ELSE ({_HUBER_K_MILLI} * d.s0 * 1e0)
                             / (ABS(v.x - m.m0) * 1000) END) AS ws
        FROM v JOIN med m USING (event_type) JOIN mad d USING (event_type)
        GROUP BY v.event_type
    ),
    m1 AS (
        SELECT event_type, CAST(ROUND(wx / ws) AS BIGINT) AS m1 FROM it1
    ),
    it2 AS (
        SELECT v.event_type,
               SUM(CASE WHEN ABS(v.x - m1.m1) * 1000 <= {_HUBER_K_MILLI} * d.s0
                        THEN v.x * 1e0
                        ELSE v.x * ({_HUBER_K_MILLI} * d.s0 * 1e0)
                             / (ABS(v.x - m1.m1) * 1000) END) AS wx,
               SUM(CASE WHEN ABS(v.x - m1.m1) * 1000 <= {_HUBER_K_MILLI} * d.s0
                        THEN 1e0
                        ELSE ({_HUBER_K_MILLI} * d.s0 * 1e0)
                             / (ABS(v.x - m1.m1) * 1000) END) AS ws
        FROM v JOIN m1 USING (event_type) JOIN mad d USING (event_type)
        GROUP BY v.event_type
    )
    SELECT m.event_type, m.m0 AS median_milli, d.s0 AS mad_milli,
           m1.m1 AS huber_step1_milli,
           CAST(ROUND(it2.wx / it2.ws) AS BIGINT) AS huber_step2_milli
    FROM med m JOIN mad d USING (event_type)
    JOIN m1 USING (event_type) JOIN it2 USING (event_type)
    """,
)
def agg_huber_m_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of location (Huber 1964, public) per event type
    via two unrolled IRLS steps from the median/MAD start: observations
    beyond k=1.345·MAD get down-weighted by k·MAD/|residual|, the
    weighted mean re-solves, repeat. The robust mean that keeps ~95%
    Gaussian efficiency while bounding any single outlier's influence —
    between the median (too blunt) and the mean (unbounded).

    Determinism: median/MAD are exact order statistics; each IRLS step's
    weights are identical double chains over exact integers and the step
    result is rounded back to milli-ints before the next step (fixed-
    point IRLS, the Kalman discipline).

    Sum-order note: the weighted sums aggregate doubles whose order may
    differ between engines; the per-step milli rounding absorbs ulp
    noise (repo float-sum precedent).

    Scale shape: two groupBys per step over the fact table with
    broadcast per-type scalars — IRLS unrolls as repeated map-side
    folds, no iteration state beyond k scalars."""
    v = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("x"),
        "event_id",
    )

    def order_stat(df, col):
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        return (
            df.select(
                "event_type",
                F.col(col).alias("v"),
                "event_id",
                F.row_number().over(w).alias("rn"),
                F.count("*").over(Window.partitionBy("event_type")).alias("n"),
            )
            .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
            .select("event_type", F.col("v"))
        )

    med = order_stat(v, "x").select("event_type", F.col("v").alias("m0"))
    vz = v.join(F.broadcast(med), "event_type").select(
        "event_type", "x", "event_id", F.abs(F.col("x") - F.col("m0")).alias("z")
    )
    mad = order_stat(vz, "z").select("event_type", F.col("v").alias("s0"))

    def irls_step(center_col: str, centers: DataFrame) -> DataFrame:
        j = (
            v.join(F.broadcast(centers), "event_type")
            .join(F.broadcast(mad), "event_type")
        )
        resid = F.abs(F.col("x") - F.col(center_col)) * 1000
        thr = _HUBER_K_MILLI * F.col("s0")
        wgt = F.when(resid <= thr, F.lit(1.0)).otherwise(
            thr * F.lit(1.0) / resid
        )
        agg = j.groupBy("event_type").agg(
            F.sum(F.col("x") * wgt).alias("wx"), F.sum(wgt).alias("ws")
        )
        return agg.select(
            "event_type",
            F.round(F.col("wx") / F.col("ws")).cast("long").alias("m_next"),
        )

    m1 = irls_step("m0", med).select("event_type", F.col("m_next").alias("m1"))
    m2 = irls_step("m1", m1).select("event_type", F.col("m_next").alias("m2"))
    return (
        med.join(mad, "event_type")
        .join(m1, "event_type")
        .join(m2, "event_type")
        .select(
            "event_type",
            F.col("m0").alias("median_milli"),
            F.col("s0").alias("mad_milli"),
            F.col("m1").alias("huber_step1_milli"),
            F.col("m2").alias("huber_step2_milli"),
        )
    )
