"""Wave-62 (streaming): stream-static join against a dimension that
REFRESHES between micro-batches — foreachBatch re-resolves the dim
version, proving per-batch re-broadcast semantics hash-exactly against
a batch mirror.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query

# Deterministic date chunking: the events fixture spans 2024-01-01..30.
_CUTS = ("2024-01-11", "2024-01-21")


@query(
    "stream_dim_refresh_join",
    oracle="""
    WITH versioned AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 0
                    WHEN ts < TIMESTAMP '2024-01-21' THEN 1
                    ELSE 2 END AS dim_version
        FROM events
    ),
    dim AS (
        SELECT t.event_type, t.rk AS base_mult
        FROM (
            SELECT event_type,
                   ROW_NUMBER() OVER (ORDER BY event_type) AS rk
            FROM (SELECT DISTINCT event_type FROM events)
        ) t
    )
    SELECT v.event_type, CAST(v.dim_version AS INT) AS dim_version,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v.cents * d.base_mult * (v.dim_version + 1)) AS BIGINT)
               AS enriched_cents
    FROM versioned v JOIN dim d ON d.event_type = v.event_type
    GROUP BY v.event_type, v.dim_version
    """,
)
def stream_dim_refresh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join where the STATIC SIDE REFRESHES between
    micro-batches: each foreachBatch invocation re-resolves the current
    dimension version (multiplier = base x (version+1)) before joining —
    the pattern for price books, feature-flag tables, and model
    registries that update while the stream runs (a naively cached dim
    would freeze at version 0 and silently mis-enrich later batches).
    Events replay as 3 date-chunked files, one micro-batch each; the
    oracle assigns versions by the same date cuts, so hash equality
    proves every batch saw exactly its own dim snapshot.

    Scale shape: per batch, one broadcast hash join against the tiny
    dim; the accumulator sink is an append-only parquet the final
    rollup reads back with map-side partials."""
    e = table(spark, sf_dir, "events").select("event_type", "value", "ts")
    root = scratch_dir("dim_refresh_")
    src = os.path.join(root, "replay")
    os.makedirs(src)
    cut0 = F.lit(_CUTS[0]).cast("timestamp")
    cut1 = F.lit(_CUTS[1]).cast("timestamp")
    chunks = [
        e.where(F.col("ts") < cut0),
        e.where((F.col("ts") >= cut0) & (F.col("ts") < cut1)),
        e.where(F.col("ts") >= cut1),
    ]
    now = time.time()
    for i, chunk in enumerate(chunks):
        tmp = scratch_dir(f"dimchunk{i}_")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i:04d}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))
    base_dim = (
        e.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.row_number().over(Window.orderBy("event_type")).alias("base_mult"),
        )
    )
    dim_rows = base_dim.collect()  # bounded: one row per event type (5)
    out_dir = os.path.join(root, "enriched")

    def enrich(batch_df, batch_id):
        ss = batch_df.sparkSession
        # the "refresh": this batch's dim version scales the multiplier
        dim = ss.createDataFrame(
            [(r.event_type, r.base_mult * (batch_id + 1)) for r in dim_rows],
            "event_type string, mult long",
        )
        (
            batch_df.join(F.broadcast(dim), "event_type")
            .select(
                "event_type",
                F.lit(batch_id).cast("int").alias("dim_version"),
                (F.round(F.col("value") * 100).cast("long") * F.col("mult")).alias(
                    "enriched_cents"
                ),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type", "dim_version").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("enriched_cents").cast("long").alias("enriched_cents"),
    )
