"""Wave-142: DISTRIBUTE/SORT BY physical-layout SQL and pinball-loss
forecast evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "sql_distribute_sort_by",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderstatus FROM orders
    WHERE o_orderkey % 5 = 0
    """,
)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY — the SQL clauses that control PHYSICAL
    layout without changing results: rows hash-partition on o_custkey
    and sort within each partition by (o_custkey, o_orderkey) — the
    prepare-for-downstream-merge-join / write-clustered-files idiom
    (CLUSTER BY is the contraction of the pair). The result SET is
    unchanged (the oracle is the plain projection; the driver's compare
    is order-insensitive); the plan-shape test asserts the exchange is
    hash-on-custkey with a partition-local (non-global) sort.

    At 100 TB this is how you lay out a table so the NEXT job's join or
    window starts co-partitioned and pre-sorted — paying one shuffle
    now to delete one later."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_dsb_src")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_orderstatus FROM orders_dsb_src
        WHERE o_orderkey % 5 = 0
        DISTRIBUTE BY o_custkey SORT BY o_custkey, o_orderkey
        """
    )


_PINBALL_Q10 = 9  # q = 0.9 in tenths


@query(
    "model_pinball_loss",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS demand
        FROM events GROUP BY event_type, day
    ),
    r AS (
        SELECT event_type, demand, day,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY demand, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    fc AS (
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(CEIL(n * {_PINBALL_Q10}.0 / 10)
                                       AS BIGINT)
                   THEN demand END) AS f
        FROM r GROUP BY event_type
    ),
    loss AS (
        SELECT d.event_type,
               CAST(SUM(CASE WHEN d.demand >= f.f
                        THEN {_PINBALL_Q10} * (d.demand - f.f)
                        ELSE (10 - {_PINBALL_Q10}) * (f.f - d.demand)
                        END) AS BIGINT) AS loss10,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(MAX(f.f) AS BIGINT) AS forecast
        FROM daily d JOIN fc f USING (event_type)
        GROUP BY d.event_type
    )
    SELECT event_type, forecast, n_days, loss10,
           ROUND(loss10 / (10e0 * n_days), 6) AS mean_pinball
    FROM loss
    """,
)
def model_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss evaluation (Koenker & Bassett 1978,
    public) of the newsvendor 0.9-fractile forecast against the daily
    demands it was fit on: L_q(y, f) = q·(y−f)⁺ + (1−q)·(f−y)⁻. The
    proper scoring rule for quantile forecasts — the 0.9 order statistic
    minimizes exactly this in-sample, which the pytest asserts against
    neighboring forecast values.

    Determinism: with q in tenths the loss is EXACT INTEGER arithmetic
    (loss10 = Σ 9·over + 1·under), divided once for the mean.

    Scale shape: daily collapse, per-type rank window for the fractile,
    broadcast forecast row, one summing pass."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("demand"))
    )
    w = Window.partitionBy("event_type").orderBy("demand", "day")
    r = daily.select(
        "event_type",
        "demand",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    fc = r.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.col("n") * _PINBALL_Q10 * 1.0 / 10).cast("long"),
                F.col("demand"),
            )
        ).alias("f")
    )
    loss = (
        daily.join(F.broadcast(fc), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("demand") >= F.col("f"),
                    _PINBALL_Q10 * (F.col("demand") - F.col("f")),
                ).otherwise((10 - _PINBALL_Q10) * (F.col("f") - F.col("demand")))
            )
            .cast("long")
            .alias("loss10"),
            F.count("*").cast("long").alias("n_days"),
            F.max("f").cast("long").alias("forecast"),
        )
    )
    return loss.select(
        "event_type",
        "forecast",
        "n_days",
        "loss10",
        F.round(F.col("loss10") / (10.0 * F.col("n_days")), 6).alias("mean_pinball"),
    )
