"""Read a parquet file sink by batch and reconcile it with the load
generator's record of what the server acknowledged."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq

from loadgen import HEADER, header, parse_header


@dataclass
class Batch:
    batch_id: int
    commit_ns: int  # when its _spark_metadata entry was written
    files: list[str]
    bytes: int


def sink_batches(sink_dir: str) -> list[Batch]:
    """Committed batches of a file sink, from its ``_spark_metadata`` log.
    Compacted entries list every earlier file again; each batch keeps only
    the files that first appear in it."""
    meta = os.path.join(sink_dir, "_spark_metadata")
    if not os.path.isdir(meta):
        return []
    entries = []
    for name in os.listdir(meta):
        stem = name.removesuffix(".compact")
        if stem.isdigit():
            entries.append((int(stem), os.path.join(meta, name)))
    seen: set[str] = set()
    out = []
    for batch_id, path in sorted(entries):
        commit_ns = os.stat(path).st_mtime_ns
        files, size = [], 0
        with open(path) as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        for line in lines:
            e = json.loads(line)
            p = unquote(urlparse(e["path"]).path)
            if e.get("action", "add") != "add" or p in seen:
                continue
            seen.add(p)
            files.append(p)
            size += int(e["size"])
        out.append(Batch(batch_id, commit_ns, files, size))
    return out


def sink_records(batches: list[Batch]) -> list[dict]:
    """Every sink row with the fields reconciliation checks, tagged with
    its batch's commit time."""
    rows = []
    cols = ["conn_id", "level", "byte_count", "binary_data_hex"]
    for b in batches:
        for path in b.files:
            t = pq.read_table(path, columns=cols).to_pydict()
            for i in range(len(t["conn_id"])):
                rows.append({c: t[c][i] for c in cols} | {"batch": b.batch_id, "commit_ns": b.commit_ns})
    return rows


@dataclass
class Report:
    matched: dict[int, dict] = field(default_factory=dict)  # seq -> sink row
    lost: list[int] = field(default_factory=list)
    duplicated: list[int] = field(default_factory=list)
    corrupted: list[int] = field(default_factory=list)
    unexpected: int = 0  # sink rows for no acked payload (e.g. an empty one)

    @property
    def failures(self) -> int:
        return len(self.lost) + len(self.duplicated) + len(self.corrupted) + self.unexpected

    def summary(self) -> str:
        return (f"lost={len(self.lost)} duplicated={len(self.duplicated)} "
                f"corrupted={len(self.corrupted)} unexpected={self.unexpected}")


def reconcile(gen_rows: list[list], records: list[dict]) -> Report:
    """Each acknowledged payload must appear exactly once with the right
    connection id, byte count, 48-byte hex prefix and level; empty and
    unacknowledged payloads must be absent.

    ``gen_rows`` are the generator's ``[seq, size, due_ns, start_ns,
    ack_ns, conn_id, status]`` rows."""
    acked = {r[0]: r for r in gen_rows if r[6] == "ok"}
    by_seq: dict[int, list[dict]] = {}
    rep = Report()
    for rec in records:
        try:
            seq, _ = parse_header(bytes.fromhex(rec["binary_data_hex"]))
        except ValueError:
            rep.unexpected += 1
            continue
        if seq not in acked:
            rep.unexpected += 1
            continue
        by_seq.setdefault(seq, []).append(rec)
    for seq, g in acked.items():
        got = by_seq.get(seq, [])
        if not got:
            rep.lost.append(seq)
            continue
        if len(got) > 1:
            rep.duplicated.append(seq)
        rec, size = got[0], g[1]
        want_hex = header(seq, g[2]).hex()
        if (rec["byte_count"] != size or rec["binary_data_hex"] != want_hex[: 2 * HEADER]
                or rec["level"] != ("WARN" if size < 200 else "INFO")
                or rec["conn_id"] != g[5]):
            rep.corrupted.append(seq)
            continue
        rep.matched[seq] = rec
    return rep
