"""Wave-65 (streaming): batch-backfill + streaming-tail cutover with
overlap dedup — the kappa-architecture migration move, hash-exact
against the batch truth.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query

_CUTOVER = "2024-01-21"
_OVERLAP_START = "2024-01-19"


@query(
    "stream_backfill_cutover",
    oracle="""
    SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS d,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_from_backfill,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-21'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_from_stream
    FROM events GROUP BY 1
    """,
)
def stream_backfill_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill-to-streaming cutover with an overlap window: the batch
    backfill covers ts < cutover, the stream replays from two days
    BEFORE the cutover (real migrations always overlap — gaps lose
    data, so the seam is deduplicated instead), and event_id dedup with
    a deterministic source priority (backfill wins below the cutover,
    stream wins at/after) resolves the doubly-delivered seam. The
    readout reconciles per-day counts against the batch truth — hash
    equality proves the seam neither dropped nor double-counted a
    single event.

    Scale shape: backfill and stream both append to a partitioned
    accumulator; dedup is one event_id groupBy over the (bounded)
    overlap plus disjoint remainder; the rollup is map-side combined."""
    e = table(spark, sf_dir, "events").select("event_id", "ts")
    root = scratch_dir("cutover_")
    acc = os.path.join(root, "acc")
    cutover = F.lit(_CUTOVER).cast("timestamp")
    overlap0 = F.lit(_OVERLAP_START).cast("timestamp")
    # 1) batch backfill
    e.where(F.col("ts") < cutover).withColumn("src", F.lit("backfill")).write.mode(
        "append"
    ).parquet(acc)
    # 2) streaming tail from the overlap start, 3 micro-batches
    src_dir = os.path.join(root, "replay")
    os.makedirs(src_dir)
    tail = e.where(F.col("ts") >= overlap0)
    now = time.time()
    for i in range(3):
        tmp = scratch_dir(f"tail{i}_")
        tail.where(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = os.path.join(src_dir, f"part-{i:04d}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))

    def append_stream(batch_df, batch_id):
        batch_df.withColumn("src", F.lit("stream")).write.mode("append").parquet(acc)

    q = (
        spark.readStream.schema(tail.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(append_stream)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # 3) seam dedup: below the cutover backfill is authoritative, at and
    # after it the stream is — a deterministic keep rule per event_id
    back = spark.read.parquet(acc)
    keep = back.withColumn(
        "want",
        F.when(F.col("ts") < cutover, F.lit("backfill")).otherwise(F.lit("stream")),
    ).where(F.col("src") == F.col("want"))
    deduped = keep.groupBy("event_id").agg(
        F.first("ts").alias("ts"), F.first("src").alias("src")
    )
    return deduped.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("d")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("src") == "backfill", 1).otherwise(0))
        .cast("long")
        .alias("n_from_backfill"),
        F.sum(F.when(F.col("src") == "stream", 1).otherwise(0))
        .cast("long")
        .alias("n_from_stream"),
    )
