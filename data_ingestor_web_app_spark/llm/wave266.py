"""Wave-266: representation similarity and standardized rates — linear
CKA between the two halves of the embedding space (the Kornblith metric,
computed by the sim_mmd_poly d^2-moment trick: no n x n Gram matrices),
and the standardized mortality/incident ratio with Byar's exact-ish
confidence limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_D = 64
_H = 32  # split: X = dims 1..32, Y = dims 33..64


@query(
    "sim_cka_linear",
    oracle=f"""
    WITH emb AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS e
        FROM embeddings
    ),
    long_e AS (
        SELECT vec_id, r.i AS dim, e[r.i] AS v
        FROM emb, UNNEST(RANGE(1, {_D + 1})) AS r(i)
    ),
    means AS (SELECT dim, AVG(v) AS mu FROM long_e GROUP BY dim),
    cross_s AS (
        SELECT a.dim AS da, b.dim AS db,
               SUM(a.v * b.v) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM long_e a JOIN long_e b ON b.vec_id = a.vec_id
        GROUP BY a.dim, b.dim
    ),
    cent AS (
        SELECT c.da, c.db,
               c.s - c.n * ma.mu * mb.mu AS cov
        FROM cross_s c
        JOIN means ma ON ma.dim = c.da
        JOIN means mb ON mb.dim = c.db
    ),
    norms AS (
        SELECT SUM(CASE WHEN da <= {_H} AND db <= {_H}
                        THEN cov * cov END) AS fxx,
               SUM(CASE WHEN da > {_H} AND db > {_H}
                        THEN cov * cov END) AS fyy,
               SUM(CASE WHEN da <= {_H} AND db > {_H}
                        THEN cov * cov END) AS fxy
        FROM cent
    )
    SELECT ROUND(fxy, 4) AS hsic_xy,
           ROUND(fxx, 4) AS hsic_xx,
           ROUND(fyy, 4) AS hsic_yy,
           ROUND(fxy / SQRT(fxx * fyy), 6) AS cka
    FROM norms
    """,
)
def sim_cka_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear Centered Kernel Alignment (Kornblith, Norouzi, Lee &
    Hinton, ICML 2019, public) between the first and second 32
    dimensions of the embedding table, treated as two representation
    "views": CKA = ||Cov(X,Y)||_F^2 / (||Cov(X,X)||_F ||Cov(Y,Y)||_F).
    The scale-safe formulation is the sim_mmd_poly moment trick — the
    n x n Gram matrices of the textbook definition NEVER materialize;
    everything reduces to the d x d centered cross-moment matrix (one
    64^2-pair fan-out per row, linear in n). CKA is THE metric for
    "do two layers/models encode the same thing", and this is how you
    run it on 100 TB of activations.

    Exactness device: cross-moments are one-pass sums; centering is
    the algebraic S - n*mu*mu' identity; one rounded division chain.

    Scale shape: n x d^2 fan-out with map-side combine to d^2 cells —
    identical cost envelope to sim_mmd_poly, zero pairwise anything."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, v -> cast(v as double))").alias("e"),
    )
    long_e = emb.select(
        "vec_id", F.posexplode("e").alias("dim0", "v")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    means = long_e.groupBy("dim").agg(F.avg("v").alias("mu"))
    a = long_e.select(
        "vec_id", F.col("dim").alias("da"), F.col("v").alias("va")
    )
    b = long_e.select(
        F.col("vec_id").alias("vb"), F.col("dim").alias("db"),
        F.col("v").alias("vv"),
    )
    cross_s = (
        a.join(b, F.col("vb") == F.col("vec_id"))
        .groupBy("da", "db")
        .agg(
            F.sum(F.col("va") * F.col("vv")).alias("s"),
            F.count("*").cast("long").alias("n"),
        )
    )
    ma = means.select(F.col("dim").alias("da"), F.col("mu").alias("mua"))
    mb = means.select(F.col("dim").alias("db"), F.col("mu").alias("mub"))
    cent = (
        cross_s.join(F.broadcast(ma), "da")
        .join(F.broadcast(mb), "db")
        .select(
            "da",
            "db",
            (F.col("s") - F.col("n") * F.col("mua") * F.col("mub")).alias(
                "cov"
            ),
        )
    )
    norms = cent.agg(
        F.sum(
            F.when(
                (F.col("da") <= _H) & (F.col("db") <= _H),
                F.col("cov") * F.col("cov"),
            )
        ).alias("fxx"),
        F.sum(
            F.when(
                (F.col("da") > _H) & (F.col("db") > _H),
                F.col("cov") * F.col("cov"),
            )
        ).alias("fyy"),
        F.sum(
            F.when(
                (F.col("da") <= _H) & (F.col("db") > _H),
                F.col("cov") * F.col("cov"),
            )
        ).alias("fxy"),
    )
    return norms.select(
        F.round("fxy", 4).alias("hsic_xy"),
        F.round("fxx", 4).alias("hsic_xx"),
        F.round("fyy", 4).alias("hsic_yy"),
        F.round(
            F.col("fxy") / F.sqrt(F.col("fxx") * F.col("fyy")), 6
        ).alias("cka"),
    )


@query(
    "agg_smr_byar",
    oracle="""
    WITH tagged AS (
        SELECT EXTRACT(hour FROM ts) AS h,
               CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS we,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bad
        FROM events
    ),
    ref AS (
        SELECT h,
               SUM(CASE WHEN we = 0 THEN bad ELSE 0 END)
                   / CAST(SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END)
                          AS DOUBLE) AS rate,
               CAST(SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_we,
               CAST(SUM(CASE WHEN we = 1 THEN bad ELSE 0 END) AS BIGINT)
                   AS o_we
        FROM tagged GROUP BY h
    ),
    tot AS (
        SELECT CAST(SUM(o_we) AS BIGINT) AS o,
               SUM(rate * n_we) AS e
        FROM ref
    ),
    byar AS (
        SELECT o, e,
               o / e AS smr,
               (o / e) * ((1 - 1.0 / (9 * o) - 1.959964 / (3 * SQRT(o)))
                          * (1 - 1.0 / (9 * o) - 1.959964 / (3 * SQRT(o)))
                          * (1 - 1.0 / (9 * o)
                             - 1.959964 / (3 * SQRT(o)))) AS lo,
               ((o + 1) / e)
               * ((1 - 1.0 / (9 * (o + 1))
                   + 1.959964 / (3 * SQRT(o + 1)))
                  * (1 - 1.0 / (9 * (o + 1))
                     + 1.959964 / (3 * SQRT(o + 1)))
                  * (1 - 1.0 / (9 * (o + 1))
                     + 1.959964 / (3 * SQRT(o + 1)))) AS hi
        FROM tot
    )
    SELECT o AS observed,
           ROUND(e, 6) AS expected,
           ROUND(smr, 6) AS smr,
           ROUND(lo, 6) AS smr_ci_lo,
           ROUND(hi, 6) AS smr_ci_hi,
           lo > 1.0 OR hi < 1.0 AS excess_significant
    FROM byar
    """,
)
def agg_smr_byar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized incident ratio via indirect standardization with
    Byar's confidence limits (Breslow & Day, IARC vol. II 1987, public):
    hour-of-day strata, weekday error rates as the reference schedule,
    expected weekend errors E = sum_h rate_h * n_weekend_h, observed O,
    SMR = O/E, and Byar's cube-root Poisson approximation for the 95%
    limits (accurate to ~1% even at small O, needing only cubes and
    square roots — no gamma quantiles in SQL). THE way to answer "are
    weekends worse, once the hourly mix is taken out?" — the crude 2x2
    of agg_risk_measures_2x2 confounds with hour.

    Exactness device: strata rates are exact ratios of BIGINTs; Byar's
    cubes expand as explicit x*x*x (never POW); the significance flag
    compares identical unrounded limits.

    Scale shape: one hour-rollup over the scan, a 24-row standardizing
    aggregate — indirect standardization is two map-side passes."""
    tagged = table(spark, sf_dir, "events").select(
        F.hour("ts").alias("h"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("we"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("bad"),
    )
    ref = tagged.groupBy("h").agg(
        (
            F.sum(F.when(F.col("we") == 0, F.col("bad")).otherwise(0))
            / F.sum(F.when(F.col("we") == 0, 1).otherwise(0)).cast("double")
        ).alias("rate"),
        F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_we"),
        F.sum(F.when(F.col("we") == 1, F.col("bad")).otherwise(0))
        .cast("long")
        .alias("o_we"),
    )
    tot = ref.agg(
        F.sum("o_we").cast("long").alias("o"),
        F.sum(F.col("rate") * F.col("n_we")).alias("e"),
    )
    o, e = F.col("o"), F.col("e")
    lo_base = 1 - 1.0 / (9 * o) - 1.959964 / (3 * F.sqrt(o))
    hi_base = 1 - 1.0 / (9 * (o + 1)) + 1.959964 / (3 * F.sqrt(o + 1))
    lo = (o / e) * (lo_base * lo_base * lo_base)
    hi = ((o + 1) / e) * (hi_base * hi_base * hi_base)
    return tot.select(
        o.alias("observed"),
        F.round(e, 6).alias("expected"),
        F.round(o / e, 6).alias("smr"),
        F.round(lo, 6).alias("smr_ci_lo"),
        F.round(hi, 6).alias("smr_ci_hi"),
        ((lo > 1.0) | (hi < 1.0)).alias("excess_significant"),
    )
