"""Wave-343: monetary-unit (dollar-unit) audit sampling (Stringer
1963 lineage; AICPA standard) and the CORDIC fixed-point sin/cos
kernel (Volder, IRE Trans. 1959) unrolled to 16 integer iterations.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_N_SAMPLES = 25


@query(
    "sample_monetary_unit",
    oracle=f"""
    WITH pop AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    OVER (ORDER BY o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS cum
        FROM orders
    ),
    tot AS (
        SELECT CAST(MAX(cum) AS BIGINT) AS total,
               CAST(MAX(cum) // {_N_SAMPLES} AS BIGINT) AS step
        FROM pop
    ),
    hits AS (
        SELECT p.o_orderkey, p.c, p.cum - p.c AS cum_before,
               CAST(FLOOR(CAST(p.cum - t.step // 2 AS DOUBLE) / t.step)
                    - CASE WHEN p.cum - p.c >= t.step // 2
                           THEN FLOOR(CAST(p.cum - p.c - t.step // 2
                                           AS DOUBLE) / t.step)
                           ELSE -1 END AS BIGINT) AS n_hits,
               t.step
        FROM pop p CROSS JOIN tot t
    )
    SELECT o_orderkey, ROUND(c / 100.0, 2) AS amount,
           n_hits,
           c > step AS top_stratum,
           ROUND(CAST(c AS DOUBLE) / step, 6) AS expected_hits
    FROM hits
    WHERE n_hits > 0
    ORDER BY o_orderkey
    """,
)
def sample_monetary_unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monetary-unit (dollar-unit) sampling — the audit-sampling
    standard (Stringer 1963; AICPA guide): every CENT of the order
    book is a sampling unit, fixed-start systematic points at
    step/2 + k·step land on {_N_SAMPLES} orders with probability
    proportional to amount. n_hits counts the points inside each
    order's cumulative range (amounts above one step are
    guaranteed-selected 'top stratum' items, possibly multiply hit);
    expected_hits = amount/step is the PPS inclusion intensity the
    evaluation stage divides by.

    Determinism: cumulative cents are exact integers over the
    o_orderkey total order; point counting is pure integer floor
    arithmetic (identical // semantics checked both engines).

    Scale shape: one running-sum window over the key order (at 100 TB
    this is the sharded prefix-sum shape), then a per-row hit count —
    no join, no second pass."""
    # two-phase SHARDED prefix sum (the scale-safe cumulative shape):
    # within-shard running totals in parallel, then broadcast shard
    # offsets from the aggregate shard frame — bit-identical to the
    # single-partition running sum, no corpus-sized window task.
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        (F.col("o_orderkey") / 4096).cast("long").alias("shard"),
    )
    w_in = Window.partitionBy("shard").orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    shard_tot = base.groupBy("shard").agg(F.sum("c").alias("stot"))
    w_off = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = shard_tot.select(
        "shard",
        F.coalesce(F.sum("stot").over(w_off), F.lit(0)).alias("off"),
    )
    pop = (
        base.join(F.broadcast(offsets), "shard")
        .withColumn(
            "cum", (F.sum("c").over(w_in) + F.col("off")).cast("long")
        )
        .select("o_orderkey", "c", "cum")
    )
    tot = pop.agg(
        F.max("cum").cast("long").alias("total"),
        F.floor(F.max("cum") / _N_SAMPLES).cast("long").alias("step"),
    )
    h = pop.crossJoin(F.broadcast(tot))
    half = F.floor(F.col("step") / 2)
    first_term = F.floor((F.col("cum") - half) / F.col("step"))
    prev = F.col("cum") - F.col("c")
    second = F.when(
        prev >= half, F.floor((prev - half) / F.col("step"))
    ).otherwise(F.lit(-1))
    # n_hits = #points p_k = half + k*step (k>=0) with prev < p_k <= cum
    #        = floor((cum-half)/step) - floor((prev-half)/step), with the
    #          guarded -1 branch when prev sits before the first point
    n_hits = (first_term - second).cast("long")
    return (
        h.withColumn("n_hits", n_hits)
        .where(F.col("n_hits") > 0)
        .select(
            "o_orderkey",
            F.round(F.col("c") / 100.0, 2).alias("amount"),
            "n_hits",
            (F.col("c") > F.col("step")).alias("top_stratum"),
            F.round(F.col("c").cast("double") / F.col("step"), 6).alias(
                "expected_hits"
            ),
        )
        .orderBy("o_orderkey")
    )


# CORDIC constants: 16 micro-scaled rotation angles and the gain, all
# computed ONCE here and embedded as identical literals in both engines.
_SCALE = 1 << 20  # fixed-point scale
_ATANS = [round(math.atan(2.0**-i) * _SCALE) for i in range(16)]
_GAIN = 1.0
for _i in range(16):
    _GAIN *= math.cos(math.atan(2.0**-_i))
_K = round(_GAIN * _SCALE)  # CORDIC gain ~0.607253 in fixed point


def _cordic_sql() -> str:
    parts = [
        f"""
    ang AS (
        SELECT n_nationkey AS id,
               CAST(n_nationkey * 60000 AS BIGINT) AS z_u
        FROM nation
    ),
    s0 AS (
        SELECT id, z_u,
               CAST({_K} AS BIGINT) AS x, CAST(0 AS BIGINT) AS y,
               z_u AS z
        FROM ang
    )"""
    ]
    for i in range(16):
        div = 1 << i
        parts.append(
            f"""
    s{i + 1} AS (
        SELECT id, z_u,
               CASE WHEN z >= 0
                    THEN x - CAST(FLOOR(CAST(y AS DOUBLE) / {div}) AS BIGINT)
                    ELSE x + CAST(FLOOR(CAST(y AS DOUBLE) / {div}) AS BIGINT)
               END AS x,
               CASE WHEN z >= 0
                    THEN y + CAST(FLOOR(CAST(x AS DOUBLE) / {div}) AS BIGINT)
                    ELSE y - CAST(FLOOR(CAST(x AS DOUBLE) / {div}) AS BIGINT)
               END AS y,
               CASE WHEN z >= 0 THEN z - {_ATANS[i]}
                    ELSE z + {_ATANS[i]} END AS z
        FROM s{i}
    )"""
        )
    return ",".join(parts)


@query(
    "fn_cordic_sincos",
    oracle=f"""
    WITH {_cordic_sql()}
    SELECT id, ROUND(z_u / {_SCALE}.0, 6) AS angle_rad,
           x AS cos_fixed, y AS sin_fixed,
           ROUND(y / {_SCALE}.0, 6) AS cordic_sin,
           ROUND(x / {_SCALE}.0, 6) AS cordic_cos,
           ROUND(ABS(y / {_SCALE}.0 - SIN(z_u / {_SCALE}.0)), 6)
               AS sin_abs_err,
           ROUND(ABS(x / {_SCALE}.0 - COS(z_u / {_SCALE}.0)), 6)
               AS cos_abs_err
    FROM s16 ORDER BY id
    """,
)
def fn_cordic_sincos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORDIC rotation kernel (Volder 1959 — the shift-and-add
    sin/cos every FPU-less chip uses): 16 unrolled fixed-point
    iterations rotate (K, 0) through the target angle by signed
    arctan(2^-i) steps, leaving x ≈ cos·2^20 and y ≈ sin·2^20. The
    rotation-angle table and gain are computed once in Python and
    embedded as identical integer literals in both engines; the
    abs-err columns audit the kernel against the engines' own SIN/COS
    (bounded by the 16-step CORDIC resolution, pinned < 1e-4 in
    pytest).

    Determinism: every iteration is integer add/subtract and an exact
    FLOOR(x/2^i) — pure integer fixed point end-to-end; only the
    display/err columns divide by the scale, rounded 6dp.

    Scale shape: per-row projection, 16 unrolled stages of the same
    row — no shuffle anywhere. Both engines evaluate each step's x/y
    updates against the PREVIOUS step's columns (the textbook
    simultaneous update), never the half-updated value."""
    ang = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id"),
        (F.col("n_nationkey") * 60000).cast("long").alias("z_u"),
    )
    df = (
        ang.withColumn("x", F.lit(_K).cast("long"))
        .withColumn("y", F.lit(0).cast("long"))
        .withColumn("z", F.col("z_u"))
    )
    for i in range(16):
        div = 1 << i
        pos = F.col("z") >= 0
        shx = F.floor(F.col("x").cast("double") / div).cast("long")
        shy = F.floor(F.col("y").cast("double") / div).cast("long")
        nx = F.when(pos, F.col("x") - shy).otherwise(F.col("x") + shy)
        ny = F.when(pos, F.col("y") + shx).otherwise(F.col("y") - shx)
        nz = F.when(pos, F.col("z") - _ATANS[i]).otherwise(
            F.col("z") + _ATANS[i]
        )
        df = (
            df.withColumn("nx", nx)
            .withColumn("ny", ny)
            .withColumn("nz", nz)
            .drop("x", "y", "z")
            .withColumnRenamed("nx", "x")
            .withColumnRenamed("ny", "y")
            .withColumnRenamed("nz", "z")
        )
    sc = float(_SCALE)
    return df.select(
        "id",
        F.round(F.col("z_u") / sc, 6).alias("angle_rad"),
        F.col("x").alias("cos_fixed"),
        F.col("y").alias("sin_fixed"),
        F.round(F.col("y") / sc, 6).alias("cordic_sin"),
        F.round(F.col("x") / sc, 6).alias("cordic_cos"),
        F.round(
            F.abs(F.col("y") / sc - F.sin(F.col("z_u") / sc)), 6
        ).alias("sin_abs_err"),
        F.round(
            F.abs(F.col("x") / sc - F.cos(F.col("z_u") / sc)), 6
        ).alias("cos_abs_err"),
    ).orderBy("id")
