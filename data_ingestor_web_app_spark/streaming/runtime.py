"""Structured Streaming runtime helpers.

Maps the reference's operational dataflow onto Spark's streaming lifecycle:
- R1 TCP source        → the journaled listen source in
                         sources/tcp_listen.py (pytest dials it over a real
                         TCP socket); file-source replay here for
                         deterministic tests; Kafka in prod.
                         Backpressure via maxFilesPerTrigger replaces the
                         reference's admission semaphore (main.go:237-256)
- R16 30 s metronome   → trigger(processingTime="30 seconds") in prod;
                         trigger(availableNow=True) for deterministic replay
- R21 graceful drain   → checkpointLocation + query.stop(); a restarted query
                         resumes from the checkpoint offsets
"""

from __future__ import annotations

import itertools
import os
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table

_counter = itertools.count()
_replay_cache: dict[tuple, str] = {}
# run_to_memory scopes the session-global shuffle-partition conf for the
# duration of a replay (see its docstring); this lock serializes those
# scoped sections so two concurrent replays on one session can't observe
# (or restore) each other's value.
_conf_scope_lock = threading.Lock()

# The reference reports metrics every 30 seconds (main.go:147); use this
# trigger for continuous deployments.
PROD_TRIGGER = {"processingTime": "30 seconds"}


def events_stream(spark: SparkSession, sf_dir: str, n_files: int = 4) -> DataFrame:
    """A real file-source stream replaying the events fixture.

    The batch events table is re-written into ``n_files`` ts-ordered parquet
    chunks in a temp dir (never touching the fixtures) so the file source
    sees a multi-batch replay with maxFilesPerTrigger=1 — micro-batch
    boundaries advance the watermark exactly like arriving data would.
    """
    src_dir = write_replay_files(spark, sf_dir, n_files)
    batch = table(spark, sf_dir, "events")
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def write_replay_files(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Split events into n ts-ordered parquet files with increasing mtimes
    (the file source processes oldest-mtime first).

    Chunk boundaries come from exact ts quantiles (approxQuantile with
    relativeError=0); each chunk is filtered and written executor-side —
    no row ever crosses to the driver (SURVEY §7 rule 10). The replay dir
    is memoized per (sf_dir, n_files) — the fixture is immutable, so every
    streaming query in a process shares one materialization."""
    key = (sf_dir, n_files)
    if key in _replay_cache:
        return _replay_cache[key]
    out = scratch_dir("events_replay_")
    e = table(spark, sf_dir, "events").withColumn("_ts_us", F.unix_micros("ts"))
    probs = [i / n_files for i in range(1, n_files)]
    cuts = e.approxQuantile("_ts_us", probs, 0.0)
    bounds = [None, *cuts, None]
    now = time.time()
    for i in range(n_files):
        chunk = e
        if bounds[i] is not None:
            chunk = chunk.where(F.col("_ts_us") > bounds[i])
        if bounds[i + 1] is not None:
            chunk = chunk.where(F.col("_ts_us") <= bounds[i + 1])
        path_dir = scratch_dir(f"chunk{i}_")
        chunk.drop("_ts_us").coalesce(1).write.mode("overwrite").parquet(path_dir)
        part = next(p for p in os.listdir(path_dir) if p.endswith(".parquet"))
        dst = os.path.join(out, f"part-{i:04d}.parquet")
        os.rename(os.path.join(path_dir, part), dst)
        os.utime(dst, (now + i, now + i))
    _replay_cache[key] = out
    return out


def write_replay_files_by_count(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Split events into ``n_files`` equal-count chunks by the global
    (ts, event_id) row order: chunk(row) = ((rn - 1) * n_files) div N.

    Unlike write_replay_files' ts-quantile cuts (whose Greenwald-Khanna
    rank arithmetic a SQL oracle cannot reproduce bit-exactly), this closed
    form IS expressible in ANSI SQL — which is what lets batch-dependent
    streaming emissions (stream_custom_state's per-batch counter feed) carry
    a hash-exact DuckDB twin. Replay-harness-only code: the global
    row_number is a single-task funnel, acceptable for authoring KB-scale
    test replays, never for a production path."""
    key = (sf_dir, n_files, "count")
    if key in _replay_cache:
        return _replay_cache[key]
    out = scratch_dir("events_replay_count_")
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events")
    n = e.groupBy().count().withColumnRenamed("count", "_n")
    rn = F.row_number().over(Window.orderBy("ts", "event_id"))
    chunked = (
        e.withColumn("_rn", rn)
        .crossJoin(F.broadcast(n))
        .withColumn("_chunk", F.expr(f"(( _rn - 1) * {n_files}) div _n"))
    )
    now = time.time()
    for i in range(n_files):
        path_dir = scratch_dir(f"cchunk{i}_")
        chunked.where(F.col("_chunk") == i).drop("_rn", "_n", "_chunk").coalesce(
            1
        ).write.mode("overwrite").parquet(path_dir)
        part = next(p for p in os.listdir(path_dir) if p.endswith(".parquet"))
        dst = os.path.join(out, f"part-{i:04d}.parquet")
        os.rename(os.path.join(path_dir, part), dst)
        os.utime(dst, (now + i, now + i))
    _replay_cache[key] = out
    return out


def run_to_memory(
    sdf: DataFrame,
    mode: str,
    progress: list | None = None,
    state_partitions: int = 8,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into an
    in-memory sink and return the final result table.

    If ``progress`` is a list, every micro-batch's StreamingQueryProgress
    dict is appended to it after termination — tests use this to assert on
    state metrics (numRowsDroppedByWatermark etc.), not just final rows.

    In production the same writeStream targets parquet/Kafka with a real
    checkpoint dir and PROD_TRIGGER; only the sink/trigger differ — the
    logical plan (and therefore state semantics) is identical.

    ``state_partitions`` (r10): a stateful query's state-store partition
    count is pinned at first batch from spark.sql.shuffle.partitions, and
    EVERY partition pays a per-micro-batch commit (delta file + snapshot
    bookkeeping) even when empty. The replay fixtures are KB-scale, so 32
    state partitions x 4 batches x 2 join sides was pure commit overhead —
    stream_stream_join measured 61 s at 32 partitions vs 5.5 s at 4, with
    identical results (state partitioning never affects semantics). The
    replay harness therefore scopes shuffle partitions down to
    min(session, state_partitions) for the duration of the run and
    restores the session value in a finally. At production volume you'd
    size this UP with data (state is hash-partitioned on the join/agg
    key), exactly like sizing shuffle partitions — the knob is explicit
    here for that reason.

    CONCURRENCY (ADVICE r10): the scoped conf is session-global state —
    Spark has no per-writeStream shuffle-partition option — so the
    set/restore section is serialized under a module lock. Concurrent
    ``run_to_memory`` calls on one session are therefore safe but
    SEQUENTIAL, and a *batch* query launched from another thread during a
    replay still observes the scoped-down value (harmless for results,
    only partition count). The finally-restore runs even if start() or
    the replay raises; a hard process kill inside the window can leak the
    scoped value into the session, which is why tests create streams
    through this helper only.
    """
    spark = sdf.sparkSession
    name = f"mem_{next(_counter)}_{os.getpid()}"
    ckpt = scratch_dir(f"ckpt_{name}_")
    with _conf_scope_lock:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(int(old), state_partitions))
        )
        try:
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    if progress is not None:
        progress.extend(q.recentProgress)
    return spark.table(name)
