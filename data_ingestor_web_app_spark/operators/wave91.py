"""Wave-91: Kaplan-Meier survival with staggered-entry censoring,
EWMA control chart in exact dyadic arithmetic, and rank-paired
propensity matching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_KM_K = 10  # survival steps reported


def _km_oracle() -> str:
    # d_k / r_k pivot columns, then the running product UNROLLED in fixed
    # order (s1..s10) via lateral aliases — identical chain in both engines.
    dcols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN NOT censored AND t = {k} THEN 1 ELSE 0 END) AS BIGINT) AS d_{k}, "
        f"CAST(SUM(CASE WHEN t >= {k} THEN 1 ELSE 0 END) AS BIGINT) AS r_{k}"
        for k in range(1, _KM_K + 1)
    )
    s_chain = ["CASE WHEN r_1 = 0 THEN 1.0 ELSE 1.0 - CAST(d_1 AS DOUBLE) / r_1 END AS s_1"]
    for k in range(2, _KM_K + 1):
        s_chain.append(
            f"s_{k - 1} * (CASE WHEN r_{k} = 0 THEN 1.0 "
            f"ELSE 1.0 - CAST(d_{k} AS DOUBLE) / r_{k} END) AS s_{k}"
        )
    chain = ",\n               ".join(s_chain)
    unpivot = "\n        UNION ALL\n        ".join(
        f"SELECT {k} AS k, r_{k} AS at_risk, d_{k} AS churned, "
        f"ROUND(s_{k}, 6) AS km_survival FROM s"
        for k in range(1, _KM_K + 1)
    )
    return f"""
    WITH bounds AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
    users AS (
        SELECT user_id,
               MIN(CAST(ts AS DATE)) AS d0,
               MAX(CAST(ts AS DATE)) AS dlast
        FROM events GROUP BY user_id
    ),
    times AS (
        SELECT user_id,
               CASE WHEN DATEDIFF('day', dlast, dmax) <= 3
                    THEN DATEDIFF('day', d0, dmax)
                    ELSE DATEDIFF('day', d0, dlast) + 1 END AS t,
               DATEDIFF('day', dlast, dmax) <= 3 AS censored
        FROM users, bounds
    ),
    pivoted AS (
        SELECT {dcols}
        FROM times
    ),
    s AS (
        SELECT *,
               {chain}
        FROM pivoted
    )
    SELECT k, at_risk, churned, km_survival FROM (
        {unpivot}
    ) ORDER BY k
    """


@query("events_kaplan_meier", oracle=_km_oracle())
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator (1958, public) of user lifetime
    with RIGHT CENSORING under staggered entry: a user 'dies' the day
    after their last activity unless still active near the dataset end
    (censored at their observed span) — the estimator
    S(t) = prod_{k<=t} (1 - d_k/r_k) that events_survival_retention's
    raw curve cannot replace once users enter at different dates and
    censoring times differ.

    Determinism: death/at-risk counts pivot to exact integer columns,
    and the running product is UNROLLED in fixed order via lateral
    aliases (s_k = s_{k-1} * term_k) — never a float aggregate over an
    unordered group, and never a log-sum (engine window-aggregation
    trees would reorder it); display rounds 6dp.

    Scale shape: per-user min/max is one map-side-combined groupBy;
    the pivot is one conditional aggregate to 2K integers; the product
    chain is constant-size arithmetic. K steps = K columns, not K
    passes."""
    bounds = table(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("date")).alias("dmax")
    )
    users = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("d0"),
            F.max(F.col("ts").cast("date")).alias("dlast"),
        )
    )
    times = users.crossJoin(F.broadcast(bounds)).select(
        F.when(
            F.datediff("dmax", "dlast") <= 3, F.datediff("dmax", "d0")
        )
        .otherwise(F.datediff("dlast", "d0") + 1)
        .alias("t"),
        (F.datediff("dmax", "dlast") <= 3).alias("censored"),
    )
    aggs = []
    for k in range(1, _KM_K + 1):
        aggs.append(
            F.sum(F.when((~F.col("censored")) & (F.col("t") == k), 1).otherwise(0))
            .cast("long")
            .alias(f"d_{k}")
        )
        aggs.append(
            F.sum(F.when(F.col("t") >= k, 1).otherwise(0)).cast("long").alias(f"r_{k}")
        )
    pivoted = times.agg(*aggs)
    s = pivoted
    prev = None
    for k in range(1, _KM_K + 1):
        term = F.when(F.col(f"r_{k}") == 0, F.lit(1.0)).otherwise(
            1.0 - F.col(f"d_{k}").cast("double") / F.col(f"r_{k}")
        )
        expr = term if prev is None else F.col(f"s_{k - 1}") * term
        s = s.withColumn(f"s_{k}", expr)
        prev = True
    # r11: K rows from ONE explode(array(struct...)) over the 1-row pivot —
    # the K-branch union re-executed (and re-analyzed) the rollup + pivot
    # subtree per branch. Per-step expressions unchanged.
    steps = [
        F.struct(
            F.lit(k).alias("k"),
            F.col(f"r_{k}").alias("at_risk"),
            F.col(f"d_{k}").alias("churned"),
            F.round(F.col(f"s_{k}"), 6).alias("km_survival"),
        )
        for k in range(1, _KM_K + 1)
    ]
    return (
        s.select(F.explode(F.array(*steps)).alias("r"))
        .select("r.*")
        .orderBy("k")
    )


@query(
    "events_ewma_control_chart",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'view'
        GROUP BY day
    ),
    idx AS (
        SELECT day, x,
               ROW_NUMBER() OVER (ORDER BY day) - 1 AS i
        FROM daily
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily
    ),
    terms AS (
        SELECT a.day, a.x,
               SUM(b.x * POWER(0.5, a.i - b.i + 1)) AS znum,
               SUM(POWER(0.5, a.i - b.i + 1)) AS zden
        FROM idx a JOIN idx b ON b.i BETWEEN a.i - 29 AND a.i
        GROUP BY a.day, a.x
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day, x,
           ROUND(znum / zden, 4) AS ewma,
           ROUND(CAST(sx AS DOUBLE) / n
                 + 3 * SQRT(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n) / 3),
                 4) AS ucl,
           ROUND(CAST(sx AS DOUBLE) / n
                 - 3 * SQRT(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n) / 3),
                 4) AS lcl,
           znum / zden > CAST(sx AS DOUBLE) / n
               + 3 * SQRT(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n) / 3)
           OR znum / zden < CAST(sx AS DOUBLE) / n
               - 3 * SQRT(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n) / 3)
               AS alarm
    FROM terms, m
    ORDER BY day
    """,
)
def events_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959, public) over daily view
    counts with lambda = 1/2: the exponentially weighted mean tracks
    small drifts between Shewhart (events_control_chart_imr) and CUSUM
    (events_cusum_drift), completing the SPC family. The smoother is
    the 30-lag truncated EWMA, normalized by the realized weight mass
    (the standard limited-memory form).

    Determinism: lambda = 1/2 makes every weight an exact dyadic
    2^-(k+1), and x*2^-(k+1) products are exact doubles whose 43-bit
    span sums EXACTLY in any association order — so the offset-join
    aggregation is order-free even under engine window/aggregate tree
    execution; control limits use integer moments and the asymptotic
    sigma*sqrt(lambda/(2-lambda)) = sigma/sqrt(3); display rounds 4dp.

    Scale shape: groupBy-to-days, then a banded self-join (30-row band
    per day) — per-series work at 100 TB partitions by metric key; the
    lag band is constant."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    idx = daily.select(
        "day", "x", (F.row_number().over(Window.orderBy("day")) - 1).alias("i")
    )
    m = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    a = idx.select(F.col("day"), F.col("x"), F.col("i"))
    b = idx.select(F.col("x").alias("xb"), F.col("i").alias("j"))
    terms = (
        a.join(b, (F.col("j") >= F.col("i") - 29) & (F.col("j") <= F.col("i")))
        .groupBy("day", "x")
        .agg(
            F.sum(F.col("xb") * F.pow(F.lit(0.5), F.col("i") - F.col("j") + 1)).alias("znum"),
            F.sum(F.pow(F.lit(0.5), F.col("i") - F.col("j") + 1)).alias("zden"),
        )
    )
    mu = F.col("sx").cast("double") / F.col("n")
    sigma = F.sqrt(
        ((F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")) / F.col("n"))
        / 3
    )
    z = F.col("znum") / F.col("zden")
    return (
        terms.crossJoin(F.broadcast(m))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            F.round(z, 4).alias("ewma"),
            F.round(mu + 3 * sigma, 4).alias("ucl"),
            F.round(mu - 3 * sigma, 4).alias("lcl"),
            ((z > mu + 3 * sigma) | (z < mu - 3 * sigma)).alias("alarm"),
        )
        .orderBy("day")
    )


@query(
    "events_propensity_match_pairs",
    oracle="""
    WITH activity AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purch,
               SUM(value) AS total_value
        FROM events GROUP BY user_id
    ),
    pop AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_purch) AS BIGINT) AS total_purch
        FROM activity
    ),
    strata AS (
        SELECT user_id, n_events, total_value,
               n_purch * n_users > total_purch AS treated,
               LEAST(4, CAST(FLOOR(n_events / 20) AS INT)) AS bucket
        FROM activity, pop
    ),
    ranked AS (
        SELECT user_id, bucket, treated, n_events, total_value,
               ROW_NUMBER() OVER (PARTITION BY bucket, treated
                                  ORDER BY user_id) AS rn
        FROM strata
    ),
    pairs AS (
        SELECT t.bucket, t.user_id AS treated_user, c.user_id AS control_user,
               t.n_events AS t_events, c.n_events AS c_events,
               t.total_value AS t_value, c.total_value AS c_value
        FROM ranked t JOIN ranked c
          ON c.bucket = t.bucket AND c.rn = t.rn
         AND t.treated AND NOT c.treated
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(CAST(t_events AS DOUBLE)), 4) AS avg_events_treated,
           ROUND(AVG(CAST(c_events AS DOUBLE)), 4) AS avg_events_control,
           CAST(SUM(CAST(ROUND(t_value * 100) AS BIGINT)
                    - CAST(ROUND(c_value * 100) AS BIGINT)) AS BIGINT)
               AS value_diff_cents
    FROM pairs
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def events_propensity_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 1:1 propensity matching (Rosenbaum & Rubin 1983,
    public): treated users (above-average purchase count — a split that
    is non-degenerate at every fixture scale) pair with control users
    within the same activity stratum by rank — the relational stand-in
    for greedy nearest-neighbor matching that scales (and that
    production causal pipelines actually run), feeding the covariate-
    balance check already in the registry
    (events_covariate_balance). Reports per-stratum pair counts, the
    matched activity means, and the exact outcome-difference total.

    Determinism: strata are integer buckets; within-stratum pairing
    ranks by user_id (a total order), so the matched set is unique; the
    outcome difference accumulates in integer cents. avg_events_* are
    integer-sum / count — one division.

    Scale shape: one groupBy per user, a per-stratum window rank, and
    an equi-join on (bucket, rank) — matching at any scale is two
    shuffles on the stratum key."""
    activity = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purch"),
            F.sum("value").alias("total_value"),
        )
    )
    pop = activity.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_purch").cast("long").alias("total_purch"),
    )
    strata = activity.crossJoin(F.broadcast(pop)).select(
        "user_id",
        "n_events",
        "total_value",
        # above-average purchasers (integer cross-multiply: no division)
        (F.col("n_purch") * F.col("n_users") > F.col("total_purch")).alias("treated"),
        F.least(F.lit(4), F.floor(F.col("n_events") / 20).cast("int")).alias("bucket"),
    )
    ranked = strata.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("bucket", "treated").orderBy("user_id")
        ),
    )
    t = ranked.where(F.col("treated")).select(
        "bucket",
        "rn",
        F.col("user_id").alias("treated_user"),
        F.col("n_events").alias("t_events"),
        F.col("total_value").alias("t_value"),
    )
    c = ranked.where(~F.col("treated")).select(
        "bucket",
        "rn",
        F.col("user_id").alias("control_user"),
        F.col("n_events").alias("c_events"),
        F.col("total_value").alias("c_value"),
    )
    pairs = t.join(c, ["bucket", "rn"])
    return (
        pairs.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.sum("t_events") / F.count("*"), 4).alias("avg_events_treated"),
            F.round(F.sum("c_events") / F.count("*"), 4).alias("avg_events_control"),
            F.sum(
                F.round(F.col("t_value") * 100).cast("long")
                - F.round(F.col("c_value") * 100).cast("long")
            )
            .cast("long")
            .alias("value_diff_cents"),
        )
        .orderBy("bucket")
    )
