"""Wave-51: UPDATE output mode semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.streaming import runtime


@query(
    "stream_update_mode_counts",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third output semantics next to append
    (stream_tumbling) and complete (stream_windowed_topk): each
    micro-batch emits ONLY the keys whose aggregate changed, so the sink
    accumulates a changelog of partial states. The LAST emission per key
    must equal the batch aggregate (the oracle), and the changelog length
    must exceed the key count (multiple emissions per key across the
    replay — asserted in pytest) — proving deltas, not snapshots, were
    emitted.

    Scale shape: same keyed streaming aggregation state as complete mode,
    but the sink writes O(changed keys) per batch instead of O(all keys)
    — the difference between a viable and a hopeless 100 TB dashboard
    feed."""
    s = runtime.events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("value_cents"),
    )
    changelog = runtime.run_to_memory(agg, "update")
    # last emission per key: memory sink preserves arrival order; tag it
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc()  # counts are monotone per key across batches
    )
    return (
        changelog.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("event_type", "n_events", "value_cents")
    )
