"""Streaming semantics: stream results equal batch equivalents; watermark
drops late data; sessions split on the gap; observe() reports totals."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import QUERIES


def test_stateful_count_equals_batch(spark, sf_small):
    stream_out = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in QUERIES["stream_stateful_count"](spark, sf_small).collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert stream_out == batch


def test_watermark_drops_late_rows(spark, sf_small):
    out = QUERIES["stream_watermark_late"](spark, sf_small).collect()
    got_days = {r["win_start"] for r in out}
    total = sum(r["n_events"] for r in out)
    all_rows = table(spark, sf_small, "events").count()
    early_rows = (
        table(spark, sf_small, "events")
        .where(F.col("ts") < F.lit("2024-01-25 00:00:00").cast("timestamp"))
        .count()
    )
    assert total == early_rows  # late file fully dropped
    assert total < all_rows
    assert all(d < "2024-02-01" for d in got_days)


def test_watermark_drop_metric_counts_late_rows(spark, sf_small):
    """The late rows must be dropped BY THE WATERMARK (state metric), not
    merely absent from the output — a Spark change in watermark propagation
    that alters which rows are evicted fails here loudly."""
    from data_ingestor_web_app_spark.streaming import runtime
    from data_ingestor_web_app_spark.streaming.queries import _watermark_late_plan

    progress: list = []
    runtime.run_to_memory(_watermark_late_plan(spark, sf_small), "append", progress=progress)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    # the metric counts rows entering the STATE STORE, i.e. after map-side
    # partial aggregation — one row per late 1-day window, not per raw event
    late_windows = (
        table(spark, sf_small, "events")
        .where(F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp"))
        .select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"))
        .distinct()
        .count()
    )
    assert late_windows > 0
    assert dropped == late_windows


def test_session_window_gap_semantics(spark, sf_small):
    """Sessions from the streaming query match a hand-computed split."""
    sessions = QUERIES["stream_session"](spark, sf_small).collect()
    # reconstruct expected session count per user from the batch table
    e = table(spark, sf_small, "events").select("user_id", "ts", "event_id").collect()
    per_user: dict[int, list] = {}
    for r in sorted(e, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        per_user.setdefault(r["user_id"], []).append(r["ts"])
    expected_counts = {}
    for uid, times in per_user.items():
        n = 1
        for prev, cur in zip(times, times[1:]):
            if (cur - prev).total_seconds() > 1800:
                n += 1
        expected_counts[uid] = n
    got_counts: dict[int, int] = {}
    for r in sessions:
        got_counts[r["user_id"]] = got_counts.get(r["user_id"], 0) + 1
    assert got_counts == expected_counts


def test_observe_metrics_totals(spark, sf_small):
    rows = QUERIES["stream_metrics_observe"](spark, sf_small).collect()
    final = [r for r in rows if r["batch_id"] == -1]
    assert len(final) == 1
    n_events = table(spark, sf_small, "events").count()
    assert final[0]["processed_requests"] == n_events
    batches = [r for r in rows if r["batch_id"] >= 0]
    assert len(batches) >= 2  # the replay really was multi-batch
    assert sum(r["processed_requests"] for r in batches) == n_events


def test_stream_dedup_key_set(spark, sf_small):
    keys = {
        (r["user_id"], r["event_type"])
        for r in QUERIES["stream_dedup"](spark, sf_small).collect()
    }
    exact = {
        (r["user_id"], r["event_type"])
        for r in table(spark, sf_small, "events").select("user_id", "event_type").distinct().collect()
    }
    assert keys == exact


def test_custom_state_final_counts(spark, sf_small):
    rows = QUERIES["stream_custom_state"](spark, sf_small).collect()
    # last emission per user (highest batch_seq) must equal the batch count
    final: dict[int, int] = {}
    seq: dict[int, int] = {}
    for r in rows:
        if r["batch_seq"] >= seq.get(r["user_id"], -1):
            seq[r["user_id"]] = r["batch_seq"]
            final[r["user_id"]] = r["n_events_so_far"]
    batch = {
        r["user_id"]: r["n"]
        for r in table(spark, sf_small, "events").groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert final == batch
    assert max(seq.values()) >= 2  # state really crossed micro-batches


def test_checkpoint_resume_after_stop(spark, sf_small, tmp_path):
    """R21 graceful drain: stop a streaming query mid-replay, restart from
    the same checkpoint, final counters equal the batch aggregate (no loss,
    no double count)."""
    import time as _time

    from pyspark.sql import functions as SF

    from data_ingestor_web_app_spark.streaming import runtime

    src = runtime.write_replay_files(spark, sf_small, n_files=4)
    schema = table(spark, sf_small, "events").schema
    ckpt = str(tmp_path / "ckpt")
    out_name = "resume_test"

    def start(trigger_kwargs):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = s.groupBy("user_id").agg(SF.count("*").alias("n"))
        return (
            agg.writeStream.format("memory")
            .queryName(out_name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    q1 = start({"processingTime": "1 second"})
    deadline = _time.time() + 60
    while not q1.recentProgress and _time.time() < deadline:
        _time.sleep(0.5)
    q1.stop()  # graceful: current batch finishes, offsets committed
    q1.awaitTermination()

    q2 = start({"availableNow": True})  # resume from checkpoint offsets
    q2.awaitTermination()

    got = {r["user_id"]: r["n"] for r in spark.table(out_name).collect()}
    want = {
        r["user_id"]: r["n"]
        for r in table(spark, sf_small, "events").groupBy("user_id").agg(SF.count("*").alias("n")).collect()
    }
    assert got == want


def test_checkpoints_use_filesystem_manager(spark, tmp_path):
    """Streaming checkpoints go through FileSystem-based renames (one
    rename(2) on the local filesystem) rather than FileContext's, which
    fork helper processes per file without libhadoop."""
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert mgr.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_admission_control_bounds_batch_size(spark, sf_small, tmp_path):
    """R18 admission control, Spark-style: the reference sheds load by
    capping concurrent connections (main.go: semaphore of 1000) — a
    streaming engine instead bounds ADMITTED WORK PER MICRO-BATCH at the
    source (maxFilesPerTrigger / maxOffsetsPerTrigger). Replaying N files
    with maxFilesPerTrigger=1 must produce N separate batches, each
    ingesting at most one file's rows — backpressure by admission, with no
    records dropped overall."""
    from pyspark.sql import functions as SF

    from data_ingestor_web_app_spark.streaming import runtime

    n_files = 4
    src = runtime.write_replay_files(spark, sf_small, n_files=n_files)
    schema = table(spark, sf_small, "events").schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        s.writeStream.format("memory")
        .queryName("admission_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    input_batches = [p for p in progress if p["numInputRows"] > 0]
    total_rows = table(spark, sf_small, "events").count()
    assert len(input_batches) == n_files, [p["numInputRows"] for p in input_batches]
    for p in input_batches:
        # one file per batch -> no batch admits more than ~1/n of the data
        assert p["numInputRows"] <= total_rows / n_files + 1, p["numInputRows"]
    assert spark.table("admission_test").count() == total_rows


def test_streaming_cdc_foreachbatch_upsert(spark, sf_small, tmp_path):
    """Streaming CDC apply: the upsert_scd1 changelog replayed as a STREAM,
    each micro-batch merged into a parquet snapshot via foreachBatch
    (read-merge-overwrite — the copy-on-write MERGE loop). Final snapshot
    must equal the one-shot batch upsert, proving the incremental path
    converges to the batch semantics regardless of how the changelog was
    chunked into batches."""
    from pyspark.sql import functions as SF

    from data_ingestor_web_app_spark.operators.upsert import _changelog, upsert_scd1

    base = table(spark, sf_small, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_dir = str(tmp_path / "snapshot")
    base.write.mode("overwrite").parquet(snap_dir)

    # replay the changelog as a file stream, one file per micro-batch
    chg_dir = str(tmp_path / "changelog")
    chg = _changelog(base).withColumn("part", SF.pmod("key", SF.lit(3)))
    for i in range(3):
        chg.where(SF.col("part") == i).drop("part").coalesce(1).write.mode(
            "append"
        ).parquet(chg_dir)
    chg_schema = chg.drop("part").schema

    def merge_batch(batch_df, _batch_id):
        snap = batch_df.sparkSession.read.parquet(snap_dir)
        b = batch_df
        merged = (
            snap.join(b, snap.o_orderkey == b.key, "full_outer")
            .where(SF.coalesce(SF.col("op"), SF.lit("")) != "D")
            .select(
                SF.coalesce(SF.col("key"), SF.col("o_orderkey")).alias("o_orderkey"),
                SF.coalesce(SF.col("new_status"), SF.col("o_orderstatus")).alias("o_orderstatus"),
                SF.coalesce(SF.col("new_totalprice"), SF.col("o_totalprice")).alias("o_totalprice"),
            )
        )
        merged.cache().count()  # materialize BEFORE overwriting the input
        merged.write.mode("overwrite").parquet(snap_dir)
        merged.unpersist()

    q = (
        spark.readStream.schema(chg_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chg_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r["o_orderkey"]: (r["o_orderstatus"], round(r["o_totalprice"], 2))
        for r in spark.read.parquet(snap_dir).collect()
    }
    want = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"])
        for r in upsert_scd1(spark, sf_small).collect()
    }
    assert got == want
