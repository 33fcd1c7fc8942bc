"""The ``ingest_tcp`` workload: durable listen-mode TCP ingest into a
parquet file sink, driven by the open-loop load generator."""

from __future__ import annotations

import bisect
import json
import os
import socket
import subprocess
import sys
import time

import loadgen
import reconcile
from stats import pct

WARM_S = 8.0  # warm-up traffic before the timed window, same rate
DRAIN_S = 30.0  # how long acked records may take to reach the sink after the run
PROGRESS_KEYS = {
    "trigger_ms": "triggerExecution", "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch", "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _probe(port: int, filler: bytes, deadline: float) -> list:
    """Send sequence 0 once the listener accepts; returns its generator row."""
    while True:
        due = time.time_ns()
        data = loadgen.payload(0, 100, due, filler)
        try:
            ack = loadgen.exchange("127.0.0.1", port, data)
        except OSError:
            if time.time() > deadline:
                raise
            time.sleep(0.05)
            continue
        m = loadgen.ACK.search(ack)
        if not m:
            raise RuntimeError(f"probe payload not acknowledged: {ack!r}")
        return [0, 100, due, due, time.time_ns(), int(m.group(2)), "ok"]


def _committed_rows(sink: str, counted: dict[str, int]) -> int:
    import pyarrow.parquet as pq

    for b in reconcile.sink_batches(sink):
        for p in b.files:
            if p not in counted:
                counted[p] = pq.read_metadata(p).num_rows
    return sum(counted.values())


def _progress(query, seen: dict[int, dict]) -> None:
    for p in query.recentProgress:
        if p.batchId not in seen:
            seen[p.batchId] = {"rows": p.numInputRows, "ms": dict(p.durationMs),
                               "ts": p.timestamp}


def run(ctx) -> dict:
    from data_ingestor_web_app_spark.sources.tcp_listen import tcp_listen_logentry_stream

    spark, tracer = ctx.spark, ctx.tracer
    port = _free_port()
    sink, ckpt, wal = (os.path.join(ctx.workdir, d) for d in ("sink", "checkpoint", "journal"))
    t0 = time.perf_counter()
    query = (
        tcp_listen_logentry_stream(spark, "127.0.0.1", port, journal_dir=wal)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    tracer.add("streaming.start", t0, time.perf_counter())
    filler = loadgen.filler_bytes(ctx.seed)
    probe = _probe(port, filler, time.time() + 120)
    counted: dict[str, int] = {}
    while _committed_rows(sink, counted) < 1:
        if not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        time.sleep(0.02)
    tracer.add("streaming.first_commit", t0, time.perf_counter())
    ctx.mark_warm(time.perf_counter() - t0)

    log = os.path.join(ctx.workdir, "loadgen.jsonl")
    total_s = WARM_S + ctx.seconds
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
         "--port", str(port), "--seconds", str(total_s), "--seed", str(ctx.seed),
         "--out", log],
    )
    ctx.rss.exclude.add(gen.pid)
    progress: dict[int, dict] = {}
    try:
        while gen.poll() is None:
            time.sleep(0.5)
            if ctx.tracer.enabled:
                t = time.perf_counter()
                _progress(query, progress)
                tracer.self_s += time.perf_counter() - t
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    with open(log) as f:
        rows = [probe] + [json.loads(line) for line in f]

    n_acked = sum(1 for r in rows if r[6] == "ok")
    deadline = time.time() + DRAIN_S
    while _committed_rows(sink, counted) < n_acked and time.time() < deadline:
        time.sleep(0.1)
    if ctx.tracer.enabled:
        _progress(query, progress)
    wal_bytes = os.path.getsize(os.path.join(wal, "records.jsonl"))
    query.stop()

    batches = reconcile.sink_batches(sink)
    records = reconcile.sink_records(batches)
    rep = reconcile.reconcile(rows, records)
    problems = [f"sink reconciliation: {rep.summary()}"] if rep.failures else []
    bad_gen = [r for r in rows if r[6] in ("noack", "refused")]
    if bad_gen:
        problems.append(f"{len(bad_gen)} connections refused or unacknowledged")

    # the timed window: payloads due after the warm-up
    epoch0 = rows[1][2] if len(rows) > 1 else probe[2]
    w0 = epoch0 + int(WARM_S * 1e9)
    w1 = w0 + int(ctx.seconds * 1e9)
    timed = [r for r in rows[1:] if r[2] >= w0]
    fresh = [(rep.matched[r[0]]["commit_ns"] - r[2]) / 1e6 for r in timed if r[0] in rep.matched]
    ack = [(r[4] - r[2]) / 1e6 for r in timed if r[6] == "ok"]
    late = [(r[3] - r[2]) / 1e6 for r in timed]
    # sustained rate: timed records over the time until the last of them
    # was committed; it falls as soon as the stream stops keeping up
    last_commit = max((rep.matched[r[0]]["commit_ns"] for r in timed if r[0] in rep.matched), default=w1)
    if not fresh or not ack:
        raise RuntimeError("no timed record reached the sink: " + "; ".join(problems))

    # backlog: acked minus committed, on a 10 ms grid over the window
    acks = sorted(r[4] for r in rows if r[6] == "ok")
    commits = sorted(rec["commit_ns"] for rec in records)
    backlog = max(bisect.bisect_right(acks, t) - bisect.bisect_right(commits, t)
                  for t in range(w0, w1, 10_000_000))

    if tracer.enabled:
        for r in timed:
            if r[0] in rep.matched:
                root = tracer.add("connection", r[2] / 1e9, rep.matched[r[0]]["commit_ns"] / 1e9,
                                  trace=f"c{r[0]}", clock="epoch")
                tracer.add("sources.ack", r[2] / 1e9, r[4] / 1e9, parent=root,
                           trace=f"c{r[0]}", clock="epoch")
        for bid, p in sorted(progress.items()):
            tracer.add("streaming.batch", 0.0, p["ms"].get("triggerExecution", 0) / 1e3,
                       trace=f"b{bid}", clock="duration", rows=p["rows"], duration_ms=p["ms"])

    data_batches = [b for b in batches if b.files]
    n_records = len(records) or 1
    layer = {
        "sources.accepted": float(sum(1 for r in rows if r[6] in ("ok", "empty", "noack"))),
        "sources.refused": float(sum(1 for r in rows if r[6] == "refused")),
        "sources.wal_bytes_per_record": wal_bytes / len(rows),
        "sources.backlog_max": float(backlog),
        "sink.fresh_p90_ms": pct(fresh, 90).value,
        "sink.files_per_batch": sum(len(b.files) for b in data_batches) / (len(data_batches) or 1),
        "sink.bytes_per_record": sum(b.bytes for b in batches) / n_records,
        "sources.ack_p50_ms": pct(ack, 50).value,
        "sources.ack_p90_ms": pct(ack, 90).value,
        "loadgen.late_p90_ms": pct(late, 90).value,
    }
    win = [p for p in progress.values() if p["rows"] > 0 and w0 / 1e9 <= _iso_s(p["ts"]) < w1 / 1e9]
    layer["streaming.batches"] = float(len(win))
    layer["streaming.rows_per_batch_p50"] = pct([p["rows"] for p in win], 50).value if win else 0.0
    for key, src in PROGRESS_KEYS.items():
        vals = [p["ms"].get(src, 0) for p in win]
        layer[f"streaming.{key}_p50"] = pct(vals, 50).value if vals else 0.0
    busy = sum(p["ms"].get("triggerExecution", 0) for p in win) / 1e3
    layer["streaming.busy_share"] = busy / ctx.seconds

    return {
        "attempted": len(rows), "failed": rep.failures + len(bad_gen), "problems": problems,
        "e2e": {
            "throughput_per_s": (len(fresh), len(fresh) / ((last_commit - w0) / 1e9)),
            "latency_ms": pct(fresh, 50),
        },
        "layer": layer,
        "notes": {"batches_in_window": len({rep.matched[r[0]]["batch"] for r in timed if r[0] in rep.matched}),
                  "connections": len(rows), "timed_s": ctx.seconds},
    }


def _iso_s(ts: str) -> float:
    """Epoch seconds of a progress timestamp like 2026-01-01T00:00:00.123Z."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
