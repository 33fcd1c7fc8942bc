"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench -q                 # all, including the smoke runs
    python3 -m pytest perfbench -q -m "not smoke"  # the fast ones

Reconciliation is tested on synthetic sink data only; nothing here injects
faults into the engine.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import loadgen  # noqa: E402
import reconcile  # noqa: E402
from spec import E2E, PER_LAYER  # noqa: E402
from stats import pct, spread  # noqa: E402


def test_percentile_reports_sample_count():
    p = pct(range(1, 101), 90)
    assert p.n == 100 and p.q == 90
    assert p.value == pytest.approx(90.1)
    assert pct([7.0], 50) == (7.0, 1, 50)
    with pytest.raises(ValueError):
        pct([], 50)


def test_spread_is_iqr_over_median():
    assert spread([10.0] * 10) == 0.0
    assert spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(
        (10.75 - 9.25) / 10.0)


def _gen_rows(n: int) -> list[list]:
    """Acked generator rows for seqs 1..n plus one empty payload."""
    sizes = loadgen.sizes(n, seed=3)
    rows = []
    for seq in range(1, n + 1):
        size = max(sizes[seq - 1], loadgen.HEADER)
        due = 1_000_000_000 * seq
        rows.append([seq, size, due, due, due + 5, 100 + seq, "ok"])
    rows.append([n + 1, 0, 0, 0, 0, 0, "empty"])
    return rows


def _record(row: list) -> dict:
    seq, size, due = row[0], row[1], row[2]
    return {"conn_id": row[5], "byte_count": size,
            "level": "WARN" if size < 200 else "INFO",
            "binary_data_hex": loadgen.header(seq, due).hex(), "batch": 0, "commit_ns": due + 10}


def test_reconcile_clean_sink_matches_everything():
    rows = _gen_rows(50)
    rep = reconcile.reconcile(rows, [_record(r) for r in rows if r[6] == "ok"])
    assert rep.failures == 0 and len(rep.matched) == 50


def test_reconcile_flags_lost_duplicated_and_corrupted():
    rows = _gen_rows(50)
    recs = [_record(r) for r in rows if r[6] == "ok"]
    del recs[4]                                # seq 5 lost
    recs.append(dict(recs[9]))                 # seq 11 duplicated
    recs[19] = recs[19] | {"byte_count": recs[19]["byte_count"] + 1}  # seq 21 corrupted
    recs[29] = recs[29] | {"level": "BOGUS"}   # seq 31 corrupted
    recs[30] = recs[30] | {"conn_id": -1}      # seq 32 corrupted
    rep = reconcile.reconcile(rows, recs)
    assert rep.lost == [5]
    assert rep.duplicated == [11]
    assert sorted(rep.corrupted) == [21, 31, 32]
    assert rep.failures == 5


def test_reconcile_flags_records_of_empty_or_unknown_payloads():
    rows = _gen_rows(5)
    recs = [_record(r) for r in rows if r[6] == "ok"]
    recs.append(_record([999, 60, 5, 5, 0, 7, "ok"]))     # never acked
    recs.append(recs[0] | {"binary_data_hex": "zz"})      # unreadable prefix
    rep = reconcile.reconcile(rows, recs)
    assert rep.unexpected == 2 and rep.failures == 2


def test_sink_batches_reads_compacted_log(tmp_path):
    """Files are assigned to the batch whose log entry first lists them,
    also when a compacted entry repeats earlier files."""
    sink = tmp_path / "sink"
    meta = sink / "_spark_metadata"
    meta.mkdir(parents=True)
    rows = _gen_rows(4)
    paths = []
    for i, row in enumerate(rows[:4]):
        p = sink / f"part-{i}.parquet"
        rec = _record(row)
        pq.write_table(pa.table({k: [rec[k]] for k in
                                 ("conn_id", "level", "byte_count", "binary_data_hex")}), p)
        paths.append(p)

    def entry(p):
        return json.dumps({"path": f"file://{p}", "size": os.path.getsize(p), "action": "add"})

    (meta / "0").write_text("v1\n" + entry(paths[0]) + "\n")
    (meta / "1").write_text("v1\n" + entry(paths[1]) + "\n" + entry(paths[2]) + "\n")
    (meta / "2.compact").write_text("v1\n" + "\n".join(entry(p) for p in paths) + "\n")
    batches = reconcile.sink_batches(str(sink))
    assert [b.batch_id for b in batches] == [0, 1, 2]
    assert [len(b.files) for b in batches] == [1, 2, 1]
    recs = reconcile.sink_records(batches)
    rep = reconcile.reconcile(rows[:4], recs)
    assert rep.failures == 0
    assert rep.matched[4]["batch"] == 2


def test_payload_header_round_trips():
    filler = loadgen.filler_bytes(1)
    for size in (48, 199, 200, 4096, 9000):
        data = loadgen.payload(77, size, 123456789, filler)
        assert len(data) == size
        assert loadgen.parse_header(data) == (77, 123456789)
    assert loadgen.payload(1, 0, 5, filler) == b""
    sizes = loadgen.sizes(20_000, seed=1)
    assert sizes == loadgen.sizes(20_000, seed=1)
    assert 0.005 < sizes.count(0) / len(sizes) < 0.02
    assert min(s for s in sizes if s) >= loadgen.HEADER and max(sizes) > 4096
    assert any(s < 200 for s in sizes if s) and any(200 <= s < 4096 for s in sizes)


def test_benchmark_json_matches_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


@pytest.mark.smoke
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(trace):
    """A short ingest run prints every named metric with its unit."""
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest_tcp",
         "--seed", "5", "--seconds", "2", "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] > 0
    want = PER_LAYER if trace else E2E
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in last["metrics"].values())
