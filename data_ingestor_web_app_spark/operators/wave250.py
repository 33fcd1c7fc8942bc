"""Wave-250: GLM and survival-inference completion — one Newton-Raphson
step of Poisson regression (log link) from the null fit, and the
Kaplan-Meier curve with Greenwood variance / confidence bands on the
time-to-conversion framing (where this data has real events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_poisson_newton_step",
    oracle="""
    WITH hours AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y,
               CASE WHEN DAYOFWEEK(MIN(ts)) IN (0, 6) THEN 1 ELSE 0 END
                   AS x
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               AVG(CAST(y AS DOUBLE)) AS ybar,
               SUM(x * (y - (SELECT AVG(CAST(y AS DOUBLE)) FROM hours)))
                   AS u2
        FROM hours
    ),
    step AS (
        SELECT n, sx, ybar, u2,
               ybar * (n * sxx - sx * sx) / n AS i_prof,
               (n * u2) / (ybar * (n * sxx - sx * sx)) AS d1
        FROM mom
    )
    SELECT n AS n_hours,
           ROUND(ybar, 6) AS mean_rate,
           ROUND(LN(ybar) - (sx * 1.0 / n) * d1, 6) AS beta0_onestep,
           ROUND(d1, 6) AS beta1_onestep,
           ROUND(u2 / SQRT(i_prof), 6) AS score_z,
           ROUND(EXP(d1), 6) AS rate_ratio_weekend
    FROM step
    """,
)
def model_poisson_newton_step(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One Newton-Raphson step of Poisson regression with log link
    (Nelder & Wedderburn, JRSS-A 1972, public — the canonical GLM) for
    hourly purchase counts on a weekend indicator, starting from the
    null fit (beta0 = ln ybar, beta1 = 0): at the null, the score is
    U = (0, sum x(y - ybar)) and the information is ybar * [[n, Sx],
    [Sx, Sxx]], so the slope step has the closed form
    d1 = n*U2 / (ybar*(n*Sxx - Sx^2)) and the intercept moves by
    -xbar*d1 (the 2x2 solve, done symbolically). score_z = U2/sqrt(I22
    - I12^2/I11) is the Rao score test for the weekend effect and
    exp(d1) the first-iterate rate ratio — the GLM family counterpart
    of model_logistic_newton_step.

    Exactness device: x is binary so Sx, Sxx stay BIGINT; ybar and U2
    are one-pass aggregates; each output is one rounded chain.

    Scale shape: one hourly rollup, one moment aggregate — a GLM step
    as two map-side-combinable passes, no iteration state."""
    hours = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("y"),
            F.when(F.dayofweek(F.min("ts")).isin(1, 7), 1)
            .otherwise(0)
            .alias("x"),
        )
    )
    yb = hours.agg(F.avg(F.col("y").cast("double")).alias("ybar"))
    mom = hours.crossJoin(F.broadcast(yb)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.first("ybar").alias("ybar"),
        F.sum(F.col("x") * (F.col("y") - F.col("ybar"))).alias("u2"),
    )
    i_prof = F.col("ybar") * (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ) / F.col("n")
    d1 = (F.col("n") * F.col("u2")) / (
        F.col("ybar")
        * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return mom.select(
        F.col("n").alias("n_hours"),
        F.round("ybar", 6).alias("mean_rate"),
        F.round(
            F.log("ybar") - (F.col("sx") * 1.0 / F.col("n")) * d1, 6
        ).alias("beta0_onestep"),
        F.round(d1, 6).alias("beta1_onestep"),
        F.round(F.col("u2") / F.sqrt(i_prof), 6).alias("score_z"),
        F.round(F.exp(d1), 6).alias("rate_ratio_weekend"),
    )


_KM_K = 8  # days


def _km_greenwood_oracle() -> str:
    dcols = ", ".join(
        f"CAST(SUM(CASE WHEN died = 1 AND t = {k} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS d_{k},"
        f" CAST(SUM(CASE WHEN t >= {k} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS r_{k}"
        for k in range(1, _KM_K + 1)
    )
    s_chain = [
        "CASE WHEN r_1 = 0 THEN 1.0"
        " ELSE 1.0 - CAST(d_1 AS DOUBLE) / r_1 END AS s_1",
        "CASE WHEN r_1 = 0 OR r_1 = d_1 THEN 0.0"
        " ELSE CAST(d_1 AS DOUBLE) / (r_1 * CAST(r_1 - d_1 AS DOUBLE))"
        " END AS gw_1",
    ]
    for k in range(2, _KM_K + 1):
        s_chain.append(
            f"s_{k - 1} * (CASE WHEN r_{k} = 0 THEN 1.0 "
            f"ELSE 1.0 - CAST(d_{k} AS DOUBLE) / r_{k} END) AS s_{k}"
        )
        s_chain.append(
            f"gw_{k - 1} + (CASE WHEN r_{k} = 0 OR r_{k} = d_{k} THEN 0.0 "
            f"ELSE CAST(d_{k} AS DOUBLE)"
            f" / (r_{k} * CAST(r_{k} - d_{k} AS DOUBLE)) END) AS gw_{k}"
        )
    chain = ",\n               ".join(s_chain)
    unpivot = "\n        UNION ALL\n        ".join(
        f"SELECT {k} AS day, r_{k} AS at_risk, d_{k} AS converted,"
        f" ROUND(s_{k}, 6) AS km_survival,"
        f" ROUND(s_{k} * SQRT(gw_{k}), 6) AS greenwood_se,"
        f" ROUND(GREATEST(0.0, s_{k} - 1.959964 * s_{k} * SQRT(gw_{k})), 6)"
        f" AS ci_lo,"
        f" ROUND(LEAST(1.0, s_{k} + 1.959964 * s_{k} * SQRT(gw_{k})), 6)"
        f" AS ci_hi"
        f" FROM s"
        for k in range(1, _KM_K + 1)
    )
    return f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id) AS tp
        FROM events
    ),
    users AS (
        SELECT user_id, MIN(us) AS t0, MAX(us) AS tlast, MIN(tp) AS tp
        FROM ev GROUP BY user_id
    ),
    times AS (
        SELECT CASE WHEN tp IS NULL
                    THEN (tlast - t0) // 86400000000
                    ELSE (tp - t0) // 86400000000 END + 1 AS t,
               CASE WHEN tp IS NULL THEN 0 ELSE 1 END AS died
        FROM users
    ),
    pivoted AS (SELECT {dcols} FROM times),
    s AS (SELECT *, {chain} FROM pivoted)
    SELECT day, at_risk, converted, km_survival, greenwood_se, ci_lo, ci_hi
    FROM ({unpivot}) ORDER BY day
    """


@query("model_km_greenwood", oracle=_km_greenwood_oracle())
def model_km_greenwood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier with Greenwood variance and linear 95% confidence
    bands (Greenwood 1926; Kaplan & Meier 1958, public) on TIME TO
    FIRST PURCHASE in days (day t = floor(days since first activity)+1;
    non-converters censor at last activity): Var(S_k) = S_k^2 *
    sum_{j<=k} d_j / (r_j (r_j - d_j)), bands clipped to [0, 1] — the
    error bars events_kaplan_meier (wave91) does not carry, on the
    framing where this fixture has real events (its lifetime framing
    censors everyone; see model_cox_score_step).

    Determinism: the d/r pivot is exact integers; the survival product
    AND the Greenwood sum are UNROLLED in fixed order (the wave91
    discipline — never a float aggregate over an unordered group);
    display rounds 6dp.

    Scale shape: one per-user rollup + one 2K-integer pivot + constant
    arithmetic; K steps = K columns, not K passes."""
    wuser = Window.partitionBy("user_id")
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    )
    ev = ev.withColumn(
        "tp",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).over(wuser),
    )
    users = ev.groupBy("user_id").agg(
        F.min("us").alias("t0"),
        F.max("us").alias("tlast"),
        F.min("tp").alias("tp"),
    )
    times = users.select(
        (
            F.when(
                F.col("tp").isNull(),
                F.expr("(tlast - t0) div 86400000000"),
            ).otherwise(F.expr("(tp - t0) div 86400000000"))
            + 1
        ).alias("t"),
        F.when(F.col("tp").isNull(), 0).otherwise(1).alias("died"),
    )
    aggs = []
    for k in range(1, _KM_K + 1):
        aggs.append(
            F.sum(
                F.when((F.col("died") == 1) & (F.col("t") == k), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"d_{k}")
        )
        aggs.append(
            F.sum(F.when(F.col("t") >= k, 1).otherwise(0))
            .cast("long")
            .alias(f"r_{k}")
        )
    pivoted = times.agg(*aggs)
    s = pivoted
    prev_s, prev_gw = None, None
    for k in range(1, _KM_K + 1):
        term = F.when(F.col(f"r_{k}") == 0, F.lit(1.0)).otherwise(
            1.0 - F.col(f"d_{k}").cast("double") / F.col(f"r_{k}")
        )
        gterm = F.when(
            (F.col(f"r_{k}") == 0) | (F.col(f"r_{k}") == F.col(f"d_{k}")),
            F.lit(0.0),
        ).otherwise(
            F.col(f"d_{k}").cast("double")
            / (
                F.col(f"r_{k}")
                * (F.col(f"r_{k}") - F.col(f"d_{k}")).cast("double")
            )
        )
        s = s.withColumn(
            f"s_{k}", term if prev_s is None else F.col(prev_s) * term
        ).withColumn(
            f"gw_{k}", gterm if prev_gw is None else F.col(prev_gw) + gterm
        )
        prev_s, prev_gw = f"s_{k}", f"gw_{k}"
    # r11: K day-rows from ONE explode(array(struct...)) over the 1-row
    # pivot — the K-branch unionAll embedded the user rollup + pivot
    # subtree per branch (K full re-executions + K-fold analysis; measured
    # 10 s warm at sf0.01). Row order (day 1..K) and all per-day
    # expressions are unchanged.
    day_structs = []
    for k in range(1, _KM_K + 1):
        se = F.col(f"s_{k}") * F.sqrt(F.col(f"gw_{k}"))
        day_structs.append(
            F.struct(
                F.lit(k).cast("int").alias("day"),
                F.col(f"r_{k}").alias("at_risk"),
                F.col(f"d_{k}").alias("converted"),
                F.round(F.col(f"s_{k}"), 6).alias("km_survival"),
                F.round(se, 6).alias("greenwood_se"),
                F.round(
                    F.greatest(
                        F.lit(0.0), F.col(f"s_{k}") - 1.959964 * se
                    ),
                    6,
                ).alias("ci_lo"),
                F.round(
                    F.least(F.lit(1.0), F.col(f"s_{k}") + 1.959964 * se), 6
                ).alias("ci_hi"),
            )
        )
    return s.select(F.explode(F.array(*day_structs)).alias("r")).select("r.*")
