"""Wave-360: zero-inflated Poisson moment fit with van den Broek's
score test (Biometrics 1995), and the beta-binomial method-of-moments
fit (Skellam 1948; the intraclass-correlation parameterization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_zip_fit",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    grid AS (SELECT u.user_id, dd.d FROM users u CROSS JOIN days dd),
    cnts AS (
        SELECT g.user_id, g.d, CAST(COALESCE(e.c, 0) AS BIGINT) AS x
        FROM grid g LEFT JOIN (
            SELECT user_id, CAST(ts AS DATE) AS d,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS c
            FROM events GROUP BY 1, 2
        ) e ON e.user_id = g.user_id AND e.d = g.d
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS BIGINT) AS s2,
               CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        FROM cnts
    ),
    fit AS (
        SELECT n, n0,
               CAST(s1 AS DOUBLE) / n AS m,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
                   AS v
        FROM mom
    ),
    zip AS (
        SELECT n, n0, m, v,
               (v + m * m - m) / m AS lam,
               1.0 - m / ((v + m * m - m) / m) AS pi
        FROM fit
    )
    SELECT n AS n_cells, n0 AS n_zero,
           ROUND(m, 6) AS mean_count,
           ROUND(v, 6) AS var_count,
           ROUND(lam, 6) AS zip_lambda,
           ROUND(pi, 6) AS zip_pi,
           ROUND(n * EXP(-m), 6) AS poisson_expected_zeros,
           ROUND(n * (pi + (1.0 - pi) * EXP(-lam)), 6) AS zip_expected_zeros,
           ROUND((n0 - n * EXP(-m)) * (n0 - n * EXP(-m))
                 / (n * EXP(-m) * (1.0 - EXP(-m))
                    - n * m * EXP(-2.0 * m)), 6) AS score_chi2,
           (n0 - n * EXP(-m)) * (n0 - n * EXP(-m))
             / (n * EXP(-m) * (1.0 - EXP(-m)) - n * m * EXP(-2.0 * m))
             > 3.841459 AS zero_inflated
    FROM zip
    """,
)
def model_zip_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflated Poisson by method of moments on the user×day
    purchase-count grid (zeros materialized from the full grid, the
    step naive count models skip): λ̂ = (v + m² − m)/m, π̂ = 1 − m/λ̂,
    with observed zeros compared against Poisson and ZIP expectations
    and van den Broek's score test (Biometrics 1995) for excess zeros
    against the χ²(1) 5% literal — the standard 'is a plain Poisson
    lying to you' gate for sparse engagement data.

    Determinism: grid counts are exact integers; m, v and every
    EXP chain are fixed expressions rounded 6dp; the flag compares
    identical unrounded doubles.

    Scale shape: the users×days grid build is a broadcast cross of
    two DISTINCT frames + a left join back — at 100 TB this is the
    standard dense-grid completion (days are calendar-bounded, users
    shard the join); moments are one partial-agg fold."""
    ev = table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    days = ev.select(F.to_date("ts").alias("d")).distinct()
    per = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("c"))
    )
    cnts = (
        users.crossJoin(F.broadcast(days))
        .join(per, ["user_id", "d"], "left")
        .select(F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("x"))
    )
    mom = cnts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
    )
    n = F.col("n")
    m = F.col("s1").cast("double") / n
    v = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / n
    ) / (n - 1)
    lam = (v + m * m - m) / m
    pi = 1.0 - m / lam
    pz = n * F.exp(-m)
    score = (F.col("n0") - pz) * (F.col("n0") - pz) / (
        n * F.exp(-m) * (1.0 - F.exp(-m)) - n * m * F.exp(-2.0 * m)
    )
    return mom.select(
        n.alias("n_cells"),
        F.col("n0").alias("n_zero"),
        F.round(m, 6).alias("mean_count"),
        F.round(v, 6).alias("var_count"),
        F.round(lam, 6).alias("zip_lambda"),
        F.round(pi, 6).alias("zip_pi"),
        F.round(pz, 6).alias("poisson_expected_zeros"),
        F.round(n * (pi + (1.0 - pi) * F.exp(-lam)), 6).alias(
            "zip_expected_zeros"
        ),
        F.round(score, 6).alias("score_chi2"),
        (score > 3.841459).alias("zero_inflated"),
    )


_TRIALS = 20


@query(
    "model_beta_binomial_mom",
    oracle=f"""
    WITH keyed AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(epoch_us(ts) AS HUGEINT) * 100000000
                            + event_id) AS rn
        FROM events
    ),
    trials AS (
        SELECT user_id, CAST(SUM(y) AS BIGINT) AS x
        FROM keyed WHERE rn <= {_TRIALS}
        GROUP BY user_id HAVING COUNT(*) = {_TRIALS}
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS BIGINT) AS s2
        FROM trials
    ),
    fit AS (
        SELECT k,
               CAST(s1 AS DOUBLE) / k / {_TRIALS} AS p,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / k) / (k - 1)
                   AS v
        FROM mom
    ),
    rho AS (
        SELECT k, p, v,
               (v / ({_TRIALS} * p * (1.0 - p)) - 1.0) / ({_TRIALS} - 1)
                   AS icc
        FROM fit
    )
    SELECT k AS n_users,
           ROUND(p, 6) AS mean_rate,
           ROUND(v, 6) AS var_successes,
           ROUND(icc, 6) AS intraclass_rho,
           ROUND(p * (1.0 - icc) / icc, 6) AS alpha,
           ROUND((1.0 - p) * (1.0 - icc) / icc, 6) AS beta,
           v > {_TRIALS} * p * (1.0 - p) AS overdispersed
    FROM rho
    """,
)
def model_beta_binomial_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial method of moments (Skellam, JRSS-B 1948) on each
    user's first {_TRIALS} events (packed-order, users with fewer
    dropped): success = purchase. The intraclass parameterization
    ρ̂ = (v/(n·p(1−p)) − 1)/(n − 1) gives α = p(1−ρ)/ρ,
    β = (1−p)(1−ρ)/ρ — the empirical-Bayes prior a per-user
    conversion-rate shrinkage actually uses (the proportions twin of
    the registry's Bühlmann and James-Stein rows), with the
    overdispersion verdict against the plain binomial.

    Determinism: the first-{_TRIALS} window uses the packed total
    order per user (per-key partitions, guard-clean); success counts
    are exact integers; fixed chains rounded 6dp.

    Scale shape: one per-user ranked filter + groupBy, then 1-row
    moment math."""
    keyed = table(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            F.expr("unix_micros(ts)").cast("decimal(38,0)") * 100000000
            + F.col("event_id")
        ).alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("k")
    trials = (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TRIALS)
        .groupBy("user_id")
        .agg(
            F.sum("y").cast("long").alias("x"),
            F.count("*").alias("cnt"),
        )
        .where(F.col("cnt") == _TRIALS)
    )
    mom = trials.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    k = F.col("k")
    p = F.col("s1").cast("double") / k / _TRIALS
    v = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / k
    ) / (k - 1)
    icc = (v / (_TRIALS * p * (1.0 - p)) - 1.0) / (_TRIALS - 1)
    return mom.select(
        k.alias("n_users"),
        F.round(p, 6).alias("mean_rate"),
        F.round(v, 6).alias("var_successes"),
        F.round(icc, 6).alias("intraclass_rho"),
        F.round(p * (1.0 - icc) / icc, 6).alias("alpha"),
        F.round((1.0 - p) * (1.0 - icc) / icc, 6).alias("beta"),
        (v > _TRIALS * p * (1.0 - p)).alias("overdispersed"),
    )
