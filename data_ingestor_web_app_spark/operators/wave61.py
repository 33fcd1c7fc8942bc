"""Wave-61: ALS half-step (closed-form per-user factor solve), Neyman
stratified sampling allocation, Benjamini-Hochberg FDR across segment
tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Fixed 2-d item factors — dyadic rationals so every product of an integer
# count with a factor is EXACTLY representable in binary (the determinism
# backbone of the whole solve).
_ITEM_FACTORS = {
    "click": (1.0, 0.5),
    "view": (0.75, 0.25),
    "purchase": (0.25, 1.25),
    "signup": (0.5, 1.0),
    "error": (0.125, 0.125),
}
_LAMBDA = 0.0625


def _factor_sql(i: int) -> str:
    return (
        "CASE event_type "
        + " ".join(
            f"WHEN '{t}' THEN {v[i]!r}" for t, v in sorted(_ITEM_FACTORS.items())
        )
        + " END"
    )


@query(
    "model_als_half_step",
    oracle=f"""
    WITH r AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id, event_type
    ),
    f AS (
        SELECT user_id, cnt,
               {_factor_sql(0)} AS v0,
               {_factor_sql(1)} AS v1
        FROM r
    ),
    per AS (
        SELECT user_id,
               SUM(v0 * v0) + {_LAMBDA!r} AS a,
               SUM(v0 * v1) AS b,
               SUM(v1 * v1) + {_LAMBDA!r} AS c,
               SUM(cnt * v0) AS d0,
               SUM(cnt * v1) AS d1
        FROM f GROUP BY user_id
    )
    SELECT user_id,
           ROUND((c * d0 - b * d1) / (a * c - b * b), 6) AS x0,
           ROUND((a * d1 - b * d0) / (a * c - b * b), 6) AS x1
    FROM per
    """,
)
def model_als_half_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS half-step (Koren/Bell/Volinsky-style implicit-feedback
    factorization, public): item factors are a fixed broadcast codebook;
    each user's 2-d factor solves its own closed-form normal equation
    x_u = (V_u^T V_u + lambda I)^-1 V_u^T r_u over that user's observed
    event types — the per-user independent solve that makes ALS the
    canonical embarrassingly-parallel recommender step.

    Determinism: item factors are dyadic rationals and counts are
    integers, so every accumulated matrix entry is an EXACT double; the
    2x2 inverse is one fixed division formula — bit-identical in both
    engines.

    Scale shape: one user_id x event_type groupBy (map-side combined),
    then a per-user 5-row fold — no join, no window; 100 TB of events
    solves 100M users with one shuffle."""
    e = table(spark, sf_dir, "events")
    r = e.groupBy("user_id", "event_type").agg(F.count("*").cast("long").alias("cnt"))
    v0 = F.create_map(
        *[x for t, v in sorted(_ITEM_FACTORS.items()) for x in (F.lit(t), F.lit(v[0]))]
    )[F.col("event_type")]
    v1 = F.create_map(
        *[x for t, v in sorted(_ITEM_FACTORS.items()) for x in (F.lit(t), F.lit(v[1]))]
    )[F.col("event_type")]
    f = r.select("user_id", "cnt", v0.alias("v0"), v1.alias("v1"))
    per = f.groupBy("user_id").agg(
        (F.sum(F.col("v0") * F.col("v0")) + _LAMBDA).alias("a"),
        F.sum(F.col("v0") * F.col("v1")).alias("b"),
        (F.sum(F.col("v1") * F.col("v1")) + _LAMBDA).alias("c"),
        F.sum(F.col("cnt") * F.col("v0")).alias("d0"),
        F.sum(F.col("cnt") * F.col("v1")).alias("d1"),
    )
    det = F.col("a") * F.col("c") - F.col("b") * F.col("b")
    return per.select(
        "user_id",
        F.round((F.col("c") * F.col("d0") - F.col("b") * F.col("d1")) / det, 6).alias("x0"),
        F.round((F.col("a") * F.col("d1") - F.col("b") * F.col("d0")) / det, 6).alias("x1"),
    )


@query(
    "sample_neyman_allocation",
    oracle="""
    WITH c AS (
        SELECT c_mktsegment AS segment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    per AS (
        SELECT segment, COUNT(*) AS nh,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(cents * cents) AS BIGINT) AS s2
        FROM c GROUP BY segment
    ),
    w AS (
        SELECT segment, nh,
               nh * SQRT(GREATEST(CAST(s2 AS DOUBLE) / nh
                         - (s1 * 1.0 / nh) * (s1 * 1.0 / nh), 0)) AS wh
        FROM per
    ),
    alloc AS (
        SELECT segment, nh, wh,
               1000.0 * wh / SUM(wh) OVER () AS frac_alloc,
               CAST(FLOOR(1000.0 * wh / SUM(wh) OVER ()) AS BIGINT) AS base
        FROM w
    ),
    ranked AS (
        SELECT segment, nh, frac_alloc, base,
               ROW_NUMBER() OVER (
                   ORDER BY frac_alloc - base DESC, segment) AS rk,
               1000 - SUM(base) OVER () AS leftover
        FROM alloc
    )
    SELECT segment, CAST(nh AS BIGINT) AS n_stratum,
           ROUND(frac_alloc, 4) AS ideal_alloc,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS n_sample
    FROM ranked
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation (Neyman 1934, public) of a 1000-unit
    sampling budget across market-segment strata: n_h proportional to
    N_h * sigma_h (bigger, more-variable strata earn more samples —
    minimizes the stratified estimator's variance at fixed budget),
    integerized by the largest-remainder method so the allocations sum
    to exactly 1000.

    Determinism: sigma_h from exact BIGINT cent moments through one
    fixed double formula; largest-remainder ranking is totally ordered
    (fraction, segment).

    Scale shape: one map-side-combined groupBy to the 5-stratum
    aggregate; windows run over 5 rows."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    per = c.groupBy("segment").agg(
        F.count("*").alias("nh"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("nh")
    w = per.select(
        "segment",
        "nh",
        (
            F.col("nh")
            * F.sqrt(
                F.greatest(
                    F.col("s2").cast("double") / F.col("nh") - mean * mean, F.lit(0.0)
                )
            )
        ).alias("wh"),
    )
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    alloc = w.select(
        "segment",
        "nh",
        (1000.0 * F.col("wh") / F.sum("wh").over(tot)).alias("frac_alloc"),
    ).withColumn("base", F.floor("frac_alloc").cast("long"))
    ranked = alloc.select(
        "segment",
        "nh",
        "frac_alloc",
        "base",
        F.row_number()
        .over(Window.orderBy((F.col("frac_alloc") - F.col("base")).desc(), "segment"))
        .alias("rk"),
        (1000 - F.sum("base").over(tot)).alias("leftover"),
    )
    return ranked.select(
        "segment",
        F.col("nh").cast("long").alias("n_stratum"),
        F.round("frac_alloc", 4).alias("ideal_alloc"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_sample"),
    )


@query(
    "agg_benjamini_hochberg",
    oracle="""
    WITH c AS (
        SELECT n.n_name AS nation,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS cents
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(cents * cents) AS BIGINT) AS s2
        FROM c
    ),
    per AS (
        SELECT nation, COUNT(*) AS nh, CAST(SUM(cents) AS BIGINT) AS sh
        FROM c GROUP BY nation
    ),
    z AS (
        SELECT per.nation, per.nh,
               (per.sh * 1.0 / per.nh - g.s1 * 1.0 / g.n)
               / (SQRT(CAST(g.s2 AS DOUBLE) / g.n
                       - (g.s1 * 1.0 / g.n) * (g.s1 * 1.0 / g.n))
                  / SQRT(per.nh)) AS zval
        FROM per, g
    ),
    p AS (
        SELECT nation, nh, zval,
               2 * (EXP(-ABS(zval) * ABS(zval) / 2) / SQRT(2 * PI())
                    * (0.319381530 * (1 / (1 + 0.2316419 * ABS(zval)))
                       - 0.356563782 * POW(1 / (1 + 0.2316419 * ABS(zval)), 2)
                       + 1.781477937 * POW(1 / (1 + 0.2316419 * ABS(zval)), 3)
                       - 1.821255978 * POW(1 / (1 + 0.2316419 * ABS(zval)), 4)
                       + 1.330274429 * POW(1 / (1 + 0.2316419 * ABS(zval)), 5)))
                   AS pval
        FROM z
    ),
    ranked AS (
        SELECT nation, nh, zval, pval,
               ROW_NUMBER() OVER (ORDER BY pval, nation) AS k,
               COUNT(*) OVER () AS m
        FROM p
    ),
    kmax AS (
        SELECT COALESCE(MAX(CASE WHEN pval <= 0.10 * k / m THEN k END), 0) AS km
        FROM ranked
    )
    SELECT r.nation, CAST(r.nh AS BIGINT) AS n_customers,
           ROUND(r.zval, 6) AS z,
           ROUND(r.pval, 6) AS p,
           CAST(r.k AS INT) AS bh_rank,
           CAST(r.k <= kmax.km AS BOOLEAN) AS rejected
    FROM ranked r, kmax
    """,
)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (JRSS-B 1995, public) across 25
    simultaneous segment tests: each nation's mean account balance gets
    a one-sample z against the global mean (normal tail via the
    Abramowitz-Stegun 7.1.26 polynomial), then the step-up procedure
    rejects the largest prefix of sorted p-values with p_k <= alpha*k/m
    (alpha=0.10) — the multiple-testing discipline that stops a
    25-segment dashboard from crying wolf at per-test alpha.

    Determinism: z from exact BIGINT cent moments; the tail polynomial
    is one fixed EXP/SQRT formula over identical doubles; the step-up
    rank is totally ordered by (p, nation).

    Scale shape: one groupBy to the 25-nation aggregate plus one global
    moment row broadcast into it; windows run over 25 rows."""
    c = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    g = c.agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    per = c.groupBy("nation").agg(
        F.count("*").alias("nh"), F.sum("cents").cast("long").alias("sh")
    )
    gm = F.col("s1") * 1.0 / F.col("n")
    gsd = F.sqrt(F.col("s2").cast("double") / F.col("n") - gm * gm)
    z = per.crossJoin(F.broadcast(g)).select(
        "nation",
        "nh",
        ((F.col("sh") * 1.0 / F.col("nh") - gm) / (gsd / F.sqrt(F.col("nh")))).alias(
            "zval"
        ),
    )
    az = F.abs(F.col("zval"))
    k1 = 1 / (1 + 0.2316419 * az)
    phi = F.exp(-az * az / 2) / F.sqrt(F.lit(2 * 3.141592653589793))
    tail = phi * (
        0.319381530 * k1
        - 0.356563782 * F.pow(k1, 2)
        + 1.781477937 * F.pow(k1, 3)
        - 1.821255978 * F.pow(k1, 4)
        + 1.330274429 * F.pow(k1, 5)
    )
    p = z.select("nation", "nh", "zval", (2 * tail).alias("pval"))
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = p.select(
        "nation",
        "nh",
        "zval",
        "pval",
        F.row_number().over(Window.orderBy("pval", "nation")).alias("k"),
        F.count("*").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).alias("m"),
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("pval") <= 0.10 * F.col("k") / F.col("m"), F.col("k"))),
            F.lit(0),
        ).alias("km")
    )
    return ranked.crossJoin(F.broadcast(kmax)).select(
        "nation",
        F.col("nh").cast("long").alias("n_customers"),
        F.round("zval", 6).alias("z"),
        F.round("pval", 6).alias("p"),
        F.col("k").cast("int").alias("bh_rank"),
        (F.col("k") <= F.col("km")).alias("rejected"),
    )
