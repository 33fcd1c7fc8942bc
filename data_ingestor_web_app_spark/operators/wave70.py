"""Wave-70: O'Brien-Fleming sequential A/B looks, SVD power-iteration
step, HNSW layer assignment audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# O'Brien-Fleming group-sequential z boundaries for 4 equally spaced
# looks at overall alpha=0.05 (two-sided) — standard published table.
_OBF = {1: 4.333, 2: 2.963, 3: 2.359, 4: 2.014}


@query(
    "events_sequential_test_obrien",
    oracle="""
    WITH marked AS (
        SELECT CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 4)
                    AS INTEGER) % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
               LEAST(CAST((DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)))
                          // 7 AS INTEGER) + 1, 4) AS wk
        FROM events
    ),
    looks AS (SELECT UNNEST([1, 2, 3, 4]) AS look),
    cum AS (
        SELECT l.look, m.arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m.conv) AS BIGINT) AS x
        FROM looks l JOIN marked m ON m.wk <= l.look
        GROUP BY l.look, m.arm
    ),
    wide AS (
        SELECT look,
               MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 0 THEN x END) AS x0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 1 THEN x END) AS x1
        FROM cum GROUP BY look
    ),
    z AS (
        SELECT look, n0, n1,
               (x1 * 1.0 / n1 - x0 * 1.0 / n0)
               / SQRT((x0 + x1) * 1.0 / (n0 + n1)
                      * (1 - (x0 + x1) * 1.0 / (n0 + n1))
                      * (1.0 / n0 + 1.0 / n1)) AS zval
        FROM wide
    )
    SELECT look,
           CAST(n0 + n1 AS BIGINT) AS n_obs,
           ROUND(zval, 6) AS z,
           CASE look WHEN 1 THEN 4.333 WHEN 2 THEN 2.963
                     WHEN 3 THEN 2.359 ELSE 2.014 END AS boundary,
           CAST(ABS(zval) > CASE look WHEN 1 THEN 4.333 WHEN 2 THEN 2.963
                            WHEN 3 THEN 2.359 ELSE 2.014 END AS BOOLEAN)
               AS stop_early
    FROM z
    """,
)
def events_sequential_test_obrien(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring with O'Brien-Fleming boundaries
    (O'Brien & Fleming 1979, public): the cumulative two-proportion z
    between md5-split arms at four weekly looks, each compared against
    its OBF boundary (4.333 / 2.963 / 2.359 / 2.014 — miserly early,
    near-fixed-sample late) — the peeking discipline that lets an
    experimenter stop early WITHOUT inflating false positives the way
    naive repeated 1.96 checks do.

    Determinism: cumulative counts are exact ints; z is one fixed
    double formula; boundaries are literals.

    Scale shape: one pass marks arm/week per event; the four looks are
    a tiny broadcast join on week <= look with map-side partials."""
    e = table(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 2
    )
    wk = F.least(
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) / 7
        ).cast("int")
        + 1,
        F.lit(4),
    )
    marked = e.select(
        arm.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
        wk.alias("wk"),
    )
    looks = spark.createDataFrame([(1,), (2,), (3,), (4,)], "look int")
    cum = (
        marked.join(F.broadcast(looks), F.col("wk") <= F.col("look"))
        .groupBy("look", "arm")
        .agg(F.count("*").cast("long").alias("n"), F.sum("conv").cast("long").alias("x"))
    )
    wide = cum.groupBy("look").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x1"),
    )
    p = (F.col("x0") + F.col("x1")) * 1.0 / (F.col("n0") + F.col("n1"))
    z = (F.col("x1") * 1.0 / F.col("n1") - F.col("x0") * 1.0 / F.col("n0")) / F.sqrt(
        p * (1 - p) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    boundary = (
        F.when(F.col("look") == 1, 4.333)
        .when(F.col("look") == 2, 2.963)
        .when(F.col("look") == 3, 2.359)
        .otherwise(2.014)
    )
    return wide.select(
        "look",
        (F.col("n0") + F.col("n1")).cast("long").alias("n_obs"),
        F.round(z, 6).alias("z"),
        boundary.alias("boundary"),
        (F.abs(z) > boundary).alias("stop_early"),
    )


@query(
    "model_svd_power_iteration",
    oracle="""
    WITH a AS (
        SELECT user_id AS u, event_type AS t, CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY user_id, event_type
    ),
    v0 AS (
        SELECT event_type AS t, 1.0 / SQRT(5) AS c
        FROM (SELECT DISTINCT event_type FROM events)
    ),
    av AS (
        SELECT a.u, SUM(a.v * v0.c) AS x
        FROM a JOIN v0 ON v0.t = a.t GROUP BY a.u
    ),
    atav AS (
        SELECT a.t, SUM(a.v * av.x) AS y
        FROM a JOIN av ON av.u = a.u GROUP BY a.t
    ),
    nrm AS (SELECT SQRT(SUM(y * y)) AS n FROM atav)
    SELECT atav.t AS event_type,
           ROUND(atav.y / nrm.n, 6) AS v1_component,
           ROUND(SQRT(nrm.n), 6) AS sigma_estimate
    FROM atav, nrm
    """,
)
def model_svd_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the top right-singular vector of
    the user x event-type count matrix: v1 = normalize(A^T A v0) from
    the uniform start — the building block of distributed truncated SVD
    (and the dominant-behavior-axis readout: which event-type mix
    explains the most user variance). sigma ~= sqrt(|A^T A v0|) after a
    unit start.

    Determinism: matrix entries are exact counts, v0 is one literal;
    both matvecs sum exact-int x double products whose 1e-16-relative
    accumulation noise sits ~8 orders under the 6dp rounding.

    Scale shape: A^T A is never materialized — two matvecs ride the
    existing (user, type) aggregate: one groupBy per multiply, each
    map-side combined; the normalizer is a 5-row fold."""
    e = table(spark, sf_dir, "events")
    a = e.groupBy(
        F.col("user_id").alias("u"), F.col("event_type").alias("t")
    ).agg(F.count("*").cast("long").alias("v"))
    v0 = (
        e.select(F.col("event_type").alias("t"))
        .distinct()
        .select("t", (1.0 / F.sqrt(F.lit(5.0))).alias("c"))
    )
    av = a.join(F.broadcast(v0), "t").groupBy("u").agg(
        F.sum(F.col("v") * F.col("c")).alias("x")
    )
    atav = a.join(av, "u").groupBy("t").agg(F.sum(F.col("v") * F.col("x")).alias("y"))
    nrm = atav.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("n"))
    return atav.crossJoin(F.broadcast(nrm)).select(
        F.col("t").alias("event_type"),
        F.round(F.col("y") / F.col("n"), 6).alias("v1_component"),
        F.round(F.sqrt(F.col("n")), 6).alias("sigma_estimate"),
    )


@query(
    "sim_hnsw_levels",
    oracle="""
    WITH u AS (
        SELECT vec_id,
               (CAST('0x' || SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
                + 0.5) / 4294967296.0 AS r
        FROM embeddings
    ),
    lv AS (
        SELECT vec_id,
               LEAST(CAST(FLOOR(-LN(r) * 1.4426950408889634) AS INTEGER), 6)
                   AS level
        FROM u
    )
    SELECT level,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM lv), 6) AS frac,
           ROUND(POW(0.5, level) * 0.5, 6) AS expected_frac
    FROM lv GROUP BY level
    """,
)
def sim_hnsw_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW layer assignment (Malkov & Yashunin 2016, public): each
    vector's maximum layer is floor(-ln(U) * mL) with mL = 1/ln 2, so
    layer occupancy should halve per level (frac ~= 0.5^(l+1)) — the
    audit a graph-index build runs to confirm its level RNG produces
    the geometric hierarchy the search complexity proof assumes.
    U is the md5-uniform (deterministic harness twin of the RNG), and
    levels cap at 6.

    Determinism: U is an exact integer ratio; LN/FLOOR of identical
    doubles; the expected curve is closed-form.

    Scale shape: a pure projection plus one map-side-combined groupBy
    over <= 7 level keys."""
    e = table(spark, sf_dir, "embeddings")
    r = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        + 0.5
    ) / 4294967296.0
    lv = e.select(
        F.least(
            F.floor(-F.log(r) * 1.4426950408889634).cast("int"), F.lit(6)
        ).alias("level")
    )
    # total folded in as a 1-row broadcast (no build-time count job)
    totalf = lv.agg(F.count("*").cast("long").alias("total"))
    return (
        lv.groupBy("level")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .crossJoin(F.broadcast(totalf))
        .select(
            "level",
            "n_nodes",
            F.round(F.col("n_nodes") * 1.0 / F.col("total"), 6).alias("frac"),
            F.round(F.pow(F.lit(0.5), F.col("level")) * 0.5, 6).alias(
                "expected_frac"
            ),
        )
    )
