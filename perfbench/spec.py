"""Metric names and units, shared by the runner, the self-tests and
BENCHMARK.json (a self-test checks that the two agree)."""

from __future__ import annotations

from batch import ANALYTICS, LLM

E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_ms": "ms",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "warmup_s": "s",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.jobs_per_query": "count",
    "operators.tasks_per_query": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.gc_s": "s",
    "operators.busy_share": "frac",
    "io.bytes_read": "bytes",
    "io.files_read": "count",
    "llm.plan_s": "s",
    "llm.exec_s": "s",
    "llm.python_bytes_sent": "bytes",
    "llm.python_bytes_received": "bytes",
    "llm.jobs_per_query": "count",
    "llm.busy_share": "frac",
    **{f"query.{n}_s": "s" for n in ANALYTICS + LLM},
    "sources.accepted": "count",
    "sources.refused": "count",
    "sources.wal_bytes_per_record": "bytes",
    "sources.backlog_max": "count",
    "sources.ack_p50_ms": "ms",
    "sources.ack_p90_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.get_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.busy_share": "frac",
    "sink.fresh_p90_ms": "ms",
    "sink.files_per_batch": "count",
    "sink.bytes_per_record": "bytes",
    "loadgen.late_p90_ms": "ms",
    "trace.overhead_frac": "frac",
}
