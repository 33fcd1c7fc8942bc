"""Wave-38: PSI distribution drift, naive-forecast backtest, vector
scalar ops, cumulative new-user growth.

agg_drift_psi is the ML-monitoring Population Stability Index between
the first and second half of the event stream; events_forecast_backtest
scores the naive (lag-1) forecast with MAE / MAPE / SMAPE — the baseline
every real forecaster must beat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.operators.wave30 import _distributed_prefix_sum
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_drift_psi",
    oracle="""
    WITH v AS (
        SELECT value,
               CAST(ts AS DATE) >= (SELECT MIN(CAST(ts AS DATE)) + 15 FROM events)
                   AS is_current
        FROM events
    ),
    ref AS (SELECT value FROM v WHERE NOT is_current),
    bounds AS (
        SELECT QUANTILE_CONT(value, 0.1) AS b1, QUANTILE_CONT(value, 0.2) AS b2,
               QUANTILE_CONT(value, 0.3) AS b3, QUANTILE_CONT(value, 0.4) AS b4,
               QUANTILE_CONT(value, 0.5) AS b5, QUANTILE_CONT(value, 0.6) AS b6,
               QUANTILE_CONT(value, 0.7) AS b7, QUANTILE_CONT(value, 0.8) AS b8,
               QUANTILE_CONT(value, 0.9) AS b9
        FROM ref
    ),
    binned AS (
        SELECT is_current,
               CASE WHEN value <= b1 THEN 0 WHEN value <= b2 THEN 1
                    WHEN value <= b3 THEN 2 WHEN value <= b4 THEN 3
                    WHEN value <= b5 THEN 4 WHEN value <= b6 THEN 5
                    WHEN value <= b7 THEN 6 WHEN value <= b8 THEN 7
                    WHEN value <= b9 THEN 8 ELSE 9 END AS bin
        FROM v, bounds
    ),
    counts AS (
        SELECT bin,
               CAST(SUM((NOT is_current)::INT) AS BIGINT) AS n_ref,
               CAST(SUM(is_current::INT) AS BIGINT) AS n_cur
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc
        FROM counts
    )
    SELECT bin, n_ref, n_cur,
           ROUND((n_cur * 1.0 / tc - n_ref * 1.0 / tr)
                 * LN((n_cur * 1.0 / tc) / (n_ref * 1.0 / tr)), 6) AS psi_term
    FROM counts, tot
    """,
)
def agg_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the reference window (first 15
    days) and the current window — the standard production drift monitor:
    decile bins come from the REFERENCE distribution's quantiles, both
    windows count into them, and each bin contributes
    (p_cur − p_ref)·ln(p_cur/p_ref). Total PSI > 0.2 is the classic
    'investigate' threshold (summed by the caller; per-bin terms localize
    WHERE the distribution moved).

    Determinism: bin boundaries are percentile scalars (engines
    bit-match), counts are exact integers, and each psi term is one fixed
    double formula on two integer ratios.

    Scale shape: boundaries are one aggregate over the reference slice
    (broadcast, 9 scalars); binning is a projection; counts are
    map-side-combined. Nothing scales with more than the scan."""
    e = table(spark, sf_dir, "events")
    split_day = e.agg(
        F.date_add(F.min(F.col("ts").cast("date")), 15).alias("split_d")
    )
    v = e.crossJoin(F.broadcast(split_day)).select(
        "value", (F.col("ts").cast("date") >= F.col("split_d")).alias("is_current")
    )
    ref = v.where(~F.col("is_current"))
    bounds = ref.agg(
        *[F.expr(f"percentile(value, {q / 10.0})").alias(f"b{q}") for q in range(1, 10)]
    )
    bin_expr = F.when(F.col("value") <= F.col("b1"), 0)
    for q in range(2, 10):
        bin_expr = bin_expr.when(F.col("value") <= F.col(f"b{q}"), q - 1)
    bin_expr = bin_expr.otherwise(9)
    binned = v.crossJoin(F.broadcast(bounds)).select(
        "is_current", bin_expr.alias("bin")
    )
    counts = binned.groupBy("bin").agg(
        F.sum((~F.col("is_current")).cast("int")).cast("long").alias("n_ref"),
        F.sum(F.col("is_current").cast("int")).cast("long").alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("long").alias("tr"), F.sum("n_cur").cast("long").alias("tc")
    )
    p_cur = F.col("n_cur") * 1.0 / F.col("tc")
    p_ref = F.col("n_ref") * 1.0 / F.col("tr")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


@query(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS y FROM events GROUP BY 1
    ),
    paired AS (
        SELECT cur.d, cur.y, prev.y AS yhat
        FROM daily cur JOIN daily prev ON prev.d = cur.d - 1
    )
    SELECT COUNT(*) AS n_days,
           ROUND(AVG(ABS(y - yhat)), 4) AS mae,
           ROUND(AVG(ABS(y - yhat) * 1.0 / y), 6) AS mape,
           ROUND(AVG(2.0 * ABS(y - yhat) / (y + yhat)), 6) AS smape
    FROM paired
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the naive lag-1 forecast (tomorrow = today) on the
    daily event-count series: MAE / MAPE / SMAPE — the floor every real
    forecasting model must beat, and the denominators monitoring dashboards
    normalize against. Counts are integers, so every per-day error term
    is a fixed rational and the 4-6dp rounded means are stable.

    Scale shape: the corpus collapses to |days| rows first; the lag pairing
    is a self equi-join on d−1 (no window, no sort)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(F.count("*").alias("y"))
    cur = daily.select("d", "y")
    prev = daily.select(F.date_add("d", 1).alias("d"), F.col("y").alias("yhat"))
    paired = cur.join(prev, "d")
    err = F.abs(F.col("y") - F.col("yhat"))
    return paired.agg(
        F.count("*").alias("n_days"),
        F.round(F.avg(err), 4).alias("mae"),
        F.round(F.avg(err * 1.0 / F.col("y")), 6).alias("mape"),
        F.round(F.avg(2.0 * err / (F.col("y") + F.col("yhat"))), 6).alias("smape"),
    )


@query(
    "fn_vector_ops",
    oracle="""
    WITH ue AS (
        SELECT vec_id, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings WHERE vec_id < 300
    ),
    stats AS (
        SELECT vec_id,
               SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm,
               SUM(CAST(x AS DOUBLE)) AS sx,
               COUNT(*) AS dim
        FROM ue GROUP BY vec_id
    )
    SELECT vec_id,
           CAST(dim AS INT) AS dim,
           ROUND(nrm, 6) AS norm,
           ROUND(sx / dim, 6) AS mean_component,
           ROUND(SUM(CAST(x AS DOUBLE) / nrm * (CAST(x AS DOUBLE) - sx / dim)), 6)
               AS dot_unit_centered
    FROM ue JOIN stats USING (vec_id)
    GROUP BY vec_id, dim, nrm, sx
    """,
)
def fn_vector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector scalar-op family over the embedding column, all JVM
    higher-order functions (no UDF): L2 norm, component mean, and the dot
    of the L2-NORMALIZED vector with its MEAN-CENTERED self — exercising
    scale (x/‖x‖), shift (x − x̄), and inner product in one verified
    expression chain (the building blocks sim_* compose).

    Scale shape: pure per-row projection; the oracle does the same
    arithmetic via UNNEST + grouped sums."""
    from data_ingestor_web_app_spark.llm.vector_common import dot, norm

    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    nrm = norm(F.col("embedding"))
    dim = F.size("embedding")
    mean = (
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / dim
    )
    base = e.select(
        "vec_id", "embedding", nrm.alias("nrm"), dim.alias("dim"), mean.alias("mu")
    )
    unit = F.transform("embedding", lambda x: x.cast("double") / F.col("nrm"))
    centered = F.transform("embedding", lambda x: x.cast("double") - F.col("mu"))
    return base.select(
        "vec_id",
        "dim",
        F.round("nrm", 6).alias("norm"),
        F.round("mu", 6).alias("mean_component"),
        F.round(dot(unit, centered), 6).alias("dot_unit_centered"),
    )


@query(
    "events_new_user_growth",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d
    ),
    swept AS (
        SELECT d, new_users,
               SUM(new_users) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                   AS cum_users
        FROM per_day
    )
    SELECT STRFTIME(d, '%Y-%m-%d') AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(cum_users AS BIGINT) AS cum_users
    FROM swept
    """,
)
def events_new_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-user growth curve: each user's first-seen day, dailies, and the
    cumulative user count — the top-line adoption chart. The running total
    uses the engine's deterministic bucketed prefix-sum (wave30) keyed on
    the numeric day, so nothing funnels through a single partition.

    Scale shape: first-seen is one groupBy(user) argmin; dailies collapse
    to |days| rows before the stitch."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d"))
    per_day = first_seen.groupBy("d").agg(F.count("*").cast("long").alias("new_users"))
    numeric = per_day.withColumn("dnum", F.unix_date("d").cast("long"))
    swept = _distributed_prefix_sum(numeric, "dnum", ["new_users"])
    return swept.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.col("new_users_cum").alias("cum_users"),
    )
