"""Wave-48: stream-stream LEFT OUTER join with watermark-driven null
emission — the hardest stream-join semantics to get right.

Inner stream-stream join (streaming.queries.stream_stream_join) emits
matches as they form; LEFT OUTER must additionally emit the unmatched
left rows with NULLs — and may only do so once the watermark PROVES no
matching right row can still arrive. End-of-stream is the classic trap:
the watermark stops advancing after the last file, so the tail's
unmatched rows would never flush. The replay therefore appends two
far-future SENTINEL batches — the first advances the watermark past all
real data, the second triggers the state eviction that emits the
remaining NULL rows (watermarks advance between batches, and eviction
runs in the batch AFTER the advance).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.streaming import runtime


@query(
    "stream_stream_left_outer",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
    FROM events p
    LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase appears —
    matched to each same-user click in the preceding hour, or ONCE with
    NULL click columns when the watermark proves no click can arrive.
    Hash-checked against the batch LEFT JOIN, so the null-emission
    mechanics (watermark proof + sentinel-driven terminal flush) are
    verified, not assumed.

    Scale shape: identical bounded state to the inner variant (interval
    condition caps both sides' retention); the extra cost of OUTER is
    only the per-row matched bit."""
    base = runtime.events_stream(spark, sf_dir)
    # Copy the memoized replay files and append two sentinel batches.
    # r11 (VERDICT r10 item 2): the replay uses TWO real-data chunks, not
    # four — every extra micro-batch costs a state-store commit on every
    # partition of BOTH join sides, and the null-emission semantics under
    # test only need (real data) -> (watermark advance) -> (eviction
    # batch). With the interval condition, match emission and null
    # emission are batch-count-invariant: the final table is the full
    # join result either way (hash-checked against the batch LEFT JOIN).
    src = runtime.write_replay_files(spark, sf_dir, 2)
    out = scratch_dir("replay_sentinel_")
    now = time.time()
    for i, f in enumerate(sorted(os.listdir(src))):
        dst = os.path.join(out, f)
        shutil.copy(os.path.join(src, f), dst)
        os.utime(dst, (now + i, now + i))
    e = table(spark, sf_dir, "events")
    max_ts = e.agg(F.max("ts")).first()[0]
    # sentinels must survive the event_type filters (Catalyst pushes the
    # filters BELOW the watermark operator, so a row of any other type
    # never advances the watermark): one far-future purchase + click per
    # sentinel batch, user_id = -1, dropped after the join
    for k in (1, 2):
        sent = spark.createDataFrame(
            [
                (-2 * k, max_ts, -1, "purchase", 0.0, None),
                (-2 * k - 1, max_ts, -1, "click", 0.0, None),
            ],
            schema=e.schema,
        ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {k} DAYS"))
        d = scratch_dir(f"sent{k}_")
        sent.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = os.path.join(out, f"part-9{k:03d}.parquet")
        os.rename(os.path.join(d, part), dst)
        os.utime(dst, (now + 100 + k, now + 100 + k))

    def stream() -> DataFrame:
        return (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
            .withWatermark("ts", "1 minute")
        )

    purchases = stream().where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = stream().where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    result = joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
    )
    final = runtime.run_to_memory(result, "append", state_partitions=4)
    return final.where(F.col("user_id") >= 0)  # drop sentinel rows
