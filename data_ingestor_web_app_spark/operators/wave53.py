"""Wave-53: walk-forward validation splits, heavy-user concentration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_walk_forward_splits",
    oracle="""
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events
    ),
    folds AS (SELECT UNNEST([1, 2, 3, 4]) AS fold),
    tagged AS (
        SELECT f.fold,
               CASE
                 WHEN CAST(e.ts AS DATE) < b.d0 + f.fold * 6 THEN 'train'
                 WHEN CAST(e.ts AS DATE) < b.d0 + f.fold * 6 + 3 THEN 'test'
                 ELSE NULL
               END AS role,
               e.user_id
        FROM events e CROSS JOIN bounds b CROSS JOIN folds f
    )
    SELECT fold, role,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM tagged WHERE role IS NOT NULL
    GROUP BY fold, role
    """,
)
def pipeline_walk_forward_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) validation splits — time-series
    CV done right: fold k trains on the first 6k days and tests on the
    next 3, so the test set is always strictly in the train set's future
    (random k-fold leaks time). Emits per-(fold, role) event and user
    counts — the split manifest an experiment tracker records. The
    temporal-integrity invariant (train max day < test min day per fold)
    is pinned in pytest.

    Scale shape: fold tagging is a 4-way projection fan-out (explode) on
    one scan; rollups are map-side combined; the anchor date is one
    broadcast scalar."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    tagged = (
        e.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.col("ts").cast("date").alias("d"),
            "d0",
            F.explode(F.sequence(F.lit(1), F.lit(4))).alias("fold"),
        )
        .withColumn(
            "role",
            F.when(F.col("d") < F.date_add(F.col("d0"), F.col("fold") * 6), "train")
            .when(F.col("d") < F.date_add(F.col("d0"), F.col("fold") * 6 + 3), "test")
            .otherwise(F.lit(None)),
        )
        .where(F.col("role").isNotNull())
    )
    return tagged.groupBy("fold", "role").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "events_top1pct_share",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    cut AS (SELECT QUANTILE_CONT(n, 0.99) AS p99 FROM per_user),
    tagged AS (
        SELECT n, CAST(n >= p99 AS BOOLEAN) AS is_heavy
        FROM per_user, cut
    )
    SELECT CAST(SUM(is_heavy::INT) AS BIGINT) AS n_heavy_users,
           COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN is_heavy THEN n ELSE 0 END) AS BIGINT)
               AS heavy_events,
           CAST(SUM(n) AS BIGINT) AS total_events,
           ROUND(SUM(CASE WHEN is_heavy THEN n ELSE 0 END) * 1.0 / SUM(n), 6)
               AS heavy_share
    FROM tagged
    """,
)
def events_top1pct_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-user concentration KPI: what share of all events comes from
    users at or above the 99th percentile of activity — the single number
    behind 'is our traffic a community or three bots', complementing the
    full Gini coefficient (agg_gini) with the headline cut.

    Scale shape: one groupBy(user) rollup; the p99 boundary is one
    percentile scalar broadcast back; the final rollup is one row."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    cut = per_user.agg(F.expr("percentile(n, 0.99D)").alias("p99"))
    tagged = per_user.crossJoin(F.broadcast(cut)).select(
        "n", (F.col("n") >= F.col("p99")).alias("is_heavy")
    )
    heavy_events = F.sum(F.when(F.col("is_heavy"), F.col("n")).otherwise(0))
    return tagged.agg(
        F.sum(F.col("is_heavy").cast("int")).cast("long").alias("n_heavy_users"),
        F.count("*").alias("n_users"),
        heavy_events.cast("long").alias("heavy_events"),
        F.sum("n").cast("long").alias("total_events"),
        F.round(heavy_events * 1.0 / F.sum("n"), 6).alias("heavy_share"),
    )
