"""Wave-260: "is forecaster A actually better than B" inference — the
Diebold-Mariano test (HAC-corrected, reusing agg_newey_west's Bartlett
machinery) and Fisher's exact paired randomization test with
derandomized md5 sign flips. Both compare the persistence and seasonal
experts from opt_hedge_regret on the same daily series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DM_L = 3  # Bartlett lags for the loss-differential series

_DIFFS_SQL = """
    daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    preds AS (
        SELECT day, y,
               LAG(y, 1) OVER (ORDER BY day) AS e1,
               LAG(y, 7) OVER (ORDER BY day) AS e2
        FROM daily
    ),
    diffs AS (
        SELECT day,
               (e1 - y) * (e1 - y) - (e2 - y) * (e2 - y) AS d,
               ROW_NUMBER() OVER (ORDER BY day) AS rn
        FROM preds WHERE e2 IS NOT NULL
    )
"""


def _diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    w = Window.orderBy("day")
    preds = daily.select(
        "day",
        "y",
        F.lag("y", 1).over(w).alias("e1"),
        F.lag("y", 7).over(w).alias("e2"),
    )
    return (
        preds.where(F.col("e2").isNotNull())
        .select(
            "day",
            (
                (F.col("e1") - F.col("y")) * (F.col("e1") - F.col("y"))
                - (F.col("e2") - F.col("y")) * (F.col("e2") - F.col("y"))
            ).alias("d"),
        )
        .withColumn("rn", F.row_number().over(Window.orderBy("day")))
    )


@query(
    "model_diebold_mariano",
    oracle=f"""
    WITH {_DIFFS_SQL},
    db AS (SELECT AVG(d) AS dbar, CAST(COUNT(*) AS BIGINT) AS t FROM diffs),
    cent AS (
        SELECT rn, d - db.dbar AS e FROM diffs CROSS JOIN db
    ),
    gam AS (
        SELECT k.k, SUM(a.e * b.e) / ANY_VALUE(db.t) AS gamma_k
        FROM (SELECT UNNEST(RANGE(0, {_DM_L + 1})) AS k) k
        JOIN cent a ON TRUE
        JOIN cent b ON b.rn = a.rn - k.k
        CROSS JOIN db
        GROUP BY k.k
    ),
    lrv AS (
        SELECT SUM(CASE WHEN k = 0 THEN gamma_k
                        ELSE 2 * (1 - k / ({_DM_L} + 1.0)) * gamma_k END)
                   AS v
        FROM gam
    )
    SELECT db.t AS t_obs,
           ROUND(db.dbar, 6) AS mean_loss_diff,
           ROUND(lrv.v, 6) AS lrv,
           ROUND(db.dbar / SQRT(lrv.v / db.t), 6) AS dm_stat,
           ABS(db.dbar / SQRT(lrv.v / db.t)) > 1.959964
               AS accuracy_differs
    FROM db CROSS JOIN lrv
    """,
)
def model_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano test of equal forecast accuracy (Diebold &
    Mariano, JBES 1995, public) between the persistence and the
    seasonal (lag-7) forecasters of the daily mean-value series: the
    loss differential d_t = e1_t^2 - e2_t^2 is tested via DM = dbar /
    sqrt(LRV/T), where the long-run variance uses the Bartlett kernel
    at L=3 (the agg_newey_west machinery, applied to d_t) because
    multi-step forecast loss differentials are serially correlated —
    the mistake the naive t-test makes.

    Exactness device: the lag join and Bartlett weights are exact
    rational chains over the bounded day frame; the flag compares the
    identical unrounded DM.

    Scale shape: daily rollup + an O(T*L) lag join on the bounded
    frame; per-metric comparisons at 100 TB add the metric key."""
    diffs = _diffs(spark, sf_dir)
    db = diffs.agg(
        F.avg("d").alias("dbar"), F.count("*").cast("long").alias("t")
    )
    cent = diffs.crossJoin(F.broadcast(db)).select(
        "rn", (F.col("d") - F.col("dbar")).alias("e")
    )
    ks = spark.range(0, _DM_L + 1).select(F.col("id").alias("k"))
    a = cent.select(F.col("e").alias("ea"), F.col("rn").alias("ra"))
    b = cent.select(F.col("e").alias("eb"), F.col("rn").alias("rb"))
    gam = (
        a.crossJoin(F.broadcast(ks))
        .join(F.broadcast(b), F.col("rb") == F.col("ra") - F.col("k"))
        .crossJoin(F.broadcast(db))
        .groupBy("k")
        .agg(
            (F.sum(F.col("ea") * F.col("eb")) / F.first("t")).alias(
                "gamma_k"
            )
        )
    )
    lrv = gam.agg(
        F.sum(
            F.when(F.col("k") == 0, F.col("gamma_k")).otherwise(
                2 * (1 - F.col("k") / (_DM_L + 1.0)) * F.col("gamma_k")
            )
        ).alias("v")
    )
    dm = F.col("dbar") / F.sqrt(F.col("v") / F.col("t"))
    return db.crossJoin(F.broadcast(lrv)).select(
        F.col("t").alias("t_obs"),
        F.round("dbar", 6).alias("mean_loss_diff"),
        F.round("v", 6).alias("lrv"),
        F.round(dm, 6).alias("dm_stat"),
        (F.abs(dm) > 1.959964).alias("accuracy_differs"),
    )


_N_FLIPS = 64


@query(
    "model_randomization_paired",
    oracle=f"""
    WITH {_DIFFS_SQL},
    obs AS (SELECT AVG(d) AS dbar, CAST(COUNT(*) AS BIGINT) AS t
            FROM diffs),
    flips AS (
        SELECT f.f, d.rn, d.d,
               CASE WHEN CAST('0x' || SUBSTR(MD5('rt:' || f.f || ':'
                                              || d.rn), 1, 8) AS BIGINT)
                         % 2 = 0 THEN 1 ELSE -1 END AS s
        FROM diffs d
        CROSS JOIN (SELECT UNNEST(RANGE({_N_FLIPS})) AS f) f
    ),
    perm AS (
        SELECT f, AVG(s * d) AS flipped_mean FROM flips GROUP BY f
    ),
    pval AS (
        SELECT CAST(SUM(CASE WHEN ABS(p.flipped_mean) >= ABS(o.dbar)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
        FROM perm p CROSS JOIN obs o
    )
    SELECT o.t AS t_obs,
           ROUND(o.dbar, 6) AS mean_loss_diff,
           {_N_FLIPS} AS n_flips,
           v.n_extreme,
           ROUND((1.0 + v.n_extreme) / (1 + {_N_FLIPS}), 6) AS p_value
    FROM obs o CROSS JOIN pval v
    """,
)
def model_randomization_paired(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fisher's paired randomization (sign-flip) test (Fisher, Design of
    Experiments 1935; the IR-evaluation workhorse per Smucker, Allan &
    Carterette, CIKM 2007, public) on the same persistence-vs-seasonal
    loss differentials as model_diebold_mariano: under the null the
    sign of each paired difference is exchangeable, so the observed
    |mean| is compared against 64 DERANDOMIZED md5 sign assignments
    (the wave60 uniform device), with the add-one Monte Carlo p-value
    (1 + extreme)/(1 + B). The distribution-free cross-check of DM's
    asymptotic normality — on a 23-pair series, the one to trust.

    Exactness device: signs are exact integer md5 parities keyed by
    (flip, row); flipped means are exact averages; one rounded p.

    Scale shape: a constant 64x flip fan-out over the bounded day frame
    and one groupBy — embarrassingly parallel, the same shape at any
    number of flips."""
    diffs = _diffs(spark, sf_dir)
    obs = diffs.agg(
        F.avg("d").alias("dbar"), F.count("*").cast("long").alias("t")
    )
    fl = spark.range(0, _N_FLIPS).select(F.col("id").alias("f"))
    flips = diffs.crossJoin(F.broadcast(fl)).select(
        "f",
        "d",
        F.when(
            F.expr(
                "conv(substring(md5(concat('rt:', cast(f as string), ':',"
                " cast(rn as string))), 1, 8), 16, 10)"
            ).cast("long")
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    perm = flips.groupBy("f").agg(
        F.avg(F.col("s") * F.col("d")).alias("flipped_mean")
    )
    pval = perm.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when(
                F.abs(F.col("flipped_mean")) >= F.abs(F.col("dbar")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme")
    )
    return obs.crossJoin(F.broadcast(pval)).select(
        F.col("t").alias("t_obs"),
        F.round("dbar", 6).alias("mean_loss_diff"),
        F.lit(_N_FLIPS).cast("int").alias("n_flips"),
        "n_extreme",
        F.round((1.0 + F.col("n_extreme")) / (1 + _N_FLIPS), 6).alias(
            "p_value"
        ),
    )
