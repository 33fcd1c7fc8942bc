"""Listen-mode R1 parity: a real nc-style client dials the ENGINE (which
binds and accepts, like /root/reference/main.go:199-257), bytes become
LogEntry rows, the client gets the reference's ack (main.go:316-317), and
connections above the semaphore cap are closed unread (main.go:252-255)."""

from __future__ import annotations

import errno
import os
import re
import socket
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.sources.tcp_listen import (
    TcpListenStreamReader,
    _journal_load,
    _journal_paths,
    _Listener,
    tcp_listen_logentry_stream,
    tcp_listen_stream,
)


def _free_port() -> int:
    s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _dial(port: int, attempts: int = 100) -> socket.socket:
    """Retry-connect until the source's accept loop is up (query startup
    is async)."""
    last: Exception | None = None
    for _ in range(attempts):
        try:
            c = socket.create_connection(("127.0.0.1", port), timeout=5)
            return c
        except OSError as e:  # pragma: no cover - startup race only
            last = e
            time.sleep(0.3)
    raise AssertionError(f"could not reach listener on {port}: {last}")


def _wait(predicate, deadline_sec: float = 90.0, msg: str = "condition"):
    deadline = time.time() + deadline_sec
    while time.time() < deadline:
        got = predicate()
        if got:
            return got
        time.sleep(0.5)
    raise AssertionError(f"timed out waiting for {msg}")


def test_nc_smoke_logentries_and_ack(spark, tmp_path):
    """deploy.sh:174 verbatim: `echo 'test data' | nc <host> <port>` — the
    engine is the SERVER. The payload comes back as a LogEntry row and the
    client reads the reference's exact ack text."""
    port = _free_port()
    q = (
        tcp_listen_logentry_stream(spark, "127.0.0.1", port, journal_dir=str(tmp_path / "wal"))
        .writeStream.format("memory")
        .queryName("tcp_listen_smoke")
        .outputMode("append")
        .start()
    )
    try:
        c = _dial(port)
        c.sendall(b"test data")
        c.shutdown(socket.SHUT_WR)  # what `echo | nc` does: EOF after write
        ack = b""
        c.settimeout(15)
        while True:
            chunk = c.recv(4096)
            if not chunk:
                break
            ack += chunk
        c.close()
        assert ack.decode() == (
            "Data processed successfully\nBytes: 9\nConnection ID: 1\n"
        )

        rows = _wait(
            lambda: spark.table("tcp_listen_smoke").collect(),
            msg="LogEntry row from listen-mode ingest",
        )
        assert len(rows) == 1
        r = rows[0]
        assert r["conn_id"] == 1  # true accept-loop ordinal, not a hash
        assert r["byte_count"] == 9
        assert r["level"] == "WARN"  # < 200 bytes (main.go:96-125 gating)
        assert r["binary_data_hex"] == b"test data".hex()
        assert r["client_host"] == "127.0.0.1"
        assert r["message"].startswith("Received 9 bytes")
    finally:
        q.stop()


# Payloads whose bytes and UTF-8 characters disagree: invalid UTF-8, and
# two-byte characters that put byte 48 inside a character.
RAW_PAYLOADS = [b"\xff\x00\x10\x80GPS", ("héllo wörld" * 10).encode()]


def test_listen_hex_is_raw_byte_prefix(spark, tmp_path):
    """main.go:112 hex-encodes the payload BYTES: a non-UTF-8 payload keeps
    its exact bytes, and the preview is the first 48 bytes (96 hex
    characters), not 48 decoded characters."""
    port = _free_port()
    q = (
        tcp_listen_logentry_stream(spark, "127.0.0.1", port, journal_dir=str(tmp_path / "wal"))
        .writeStream.format("memory")
        .queryName("tcp_listen_raw_bytes")
        .outputMode("append")
        .start()
    )
    try:
        conn_ids = {_send_acked(port, p): p for p in RAW_PAYLOADS}

        def both_rows():
            rows = spark.table("tcp_listen_raw_bytes").collect()
            return rows if len(rows) >= 2 else None

        rows = _wait(both_rows, msg="LogEntry rows for the raw-byte payloads")
    finally:
        q.stop()
    got = {r["conn_id"]: r for r in rows}
    assert set(got) == set(conn_ids)
    for cid, p in conn_ids.items():
        assert got[cid]["byte_count"] == len(p)
        assert got[cid]["binary_data_hex"] == p[:48].hex()
    hexes = sorted((r["binary_data_hex"] for r in rows), key=len)
    assert hexes[0] == "ff001080475053"
    assert len(hexes[1]) == 96


# The payloads of the reference's `nc` smoke, one connection each; the empty
# one is the "No data received" path (main.go:298-301).
NC_PAYLOADS = [b"test data", b"", b"x" * 250, b"second payload"]


def test_listen_logentry_levels_and_empty_drop(spark, tmp_path):
    """An empty payload is journaled as kind='empty', gets no ack and gives
    no LogEntry row; 250 bytes is INFO with a 48-byte (96 hex character)
    preview; 9 bytes is WARN with the reference's exact message text and an
    RFC3339 UTC timestamp (main.go:96-125)."""
    port = _free_port()
    jdir = str(tmp_path / "wal")
    q = (
        tcp_listen_logentry_stream(spark, "127.0.0.1", port, journal_dir=jdir)
        .writeStream.format("memory")
        .queryName("tcp_listen_levels")
        .outputMode("append")
        .start()
    )
    try:
        # sent in order: once the later payloads' rows are in the sink, the
        # batch that held the empty record has been processed too
        replies = {p: _send(port, p) for p in NC_PAYLOADS}

        def three_rows():
            rows = spark.table("tcp_listen_levels").collect()
            return rows if len(rows) >= 3 else None

        rows = _wait(three_rows, msg="LogEntry rows for the nc payloads")
    finally:
        q.stop()
    assert replies[b""][1] == ""  # closed without an ack
    kinds = sorted(r[3] for r in _journal_load(jdir)[0].values())
    assert kinds == ["data", "data", "data", "empty"]
    got = {r["byte_count"]: r for r in rows}
    assert len(rows) == 3 and sorted(got) == [9, 14, 250]  # empty payload dropped
    small = got[9]
    assert small["level"] == "WARN"  # < 200 bytes
    assert small["message"] == f"Received 9 bytes of binary data from {replies[b'test data'][0]}"
    assert small["client_host"] == "127.0.0.1"
    assert small["binary_data_hex"] == b"test data".hex()
    assert re.fullmatch(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ", small["timestamp"])
    big = got[250]
    assert big["level"] == "INFO"  # >= 200 bytes
    assert big["binary_data_hex"] == (b"x" * 48).hex()
    assert len(big["binary_data_hex"]) == 96
    assert got[14]["level"] == "WARN"


def test_reject_above_cap_and_recovery(spark, tmp_path):
    """main.go:252-255 shed-load: with maxConnections=2 and both slots held
    by open connections, further connections are closed UNREAD and show up
    in-band as kind='rejected'; once a slot frees, new connections are
    admitted again (semaphore release, main.go:248-249)."""
    port = _free_port()
    q = (
        tcp_listen_stream(
            spark,
            "127.0.0.1",
            port,
            max_connections=2,
            max_workers=4,
            read_timeout_sec=8.0,
            journal_dir=str(tmp_path / "wal"),
        )
        .writeStream.format("memory")
        .queryName("tcp_listen_admission")
        .outputMode("append")
        .start()
    )
    held: list[socket.socket] = []
    try:
        # occupy both slots: connect, send nothing, keep the socket open —
        # each handler blocks in its 8 s idle-read window holding a slot
        for _ in range(2):
            held.append(_dial(port))
        time.sleep(0.5)  # let both accepts land before overflowing

        # overflow: these two must be rejected (closed without an ack)
        rejected_seen = 0
        for _ in range(2):
            c = _dial(port)
            c.settimeout(10)
            try:
                got = c.recv(4096)  # server closes immediately => EOF
            except ConnectionResetError:
                got = b""  # RST is also a valid immediate-close signal
            assert got == b""
            c.close()
            rejected_seen += 1
        assert rejected_seen == 2

        def admission_rows():
            rows = spark.table("tcp_listen_admission").collect()
            kinds = [r["kind"] for r in rows]
            return rows if kinds.count("rejected") >= 2 else None

        rows = _wait(admission_rows, msg="two in-band rejection records")
        rejected = [r for r in rows if r["kind"] == "rejected"]
        assert len(rejected) == 2
        for r in rejected:
            assert r["payload"] == bytearray(b"")  # closed UNREAD
            assert r["conn_id"] in (3, 4)  # ordinals after the two holders

        # recovery: release the held slots; the idle handlers emit 'empty'
        # (main.go:298-301) and new connections are admitted again
        for h in held:
            h.close()
        held.clear()
        # slot release is asynchronous (the held handlers must notice the
        # close first) — retry until a dial gets through admission; a
        # still-rejected attempt sees EOF or RST and tries again
        ack = b""
        deadline = time.time() + 60
        while time.time() < deadline:
            c = _dial(port)
            try:
                c.sendall(b"after recovery")
                c.shutdown(socket.SHUT_WR)
                c.settimeout(15)
                ack = b""
                while True:
                    chunk = c.recv(4096)
                    if not chunk:
                        break
                    ack += chunk
            except OSError:
                ack = b""
            finally:
                c.close()
            if ack:
                break
            time.sleep(0.5)
        assert b"Data processed successfully" in ack
        assert b"Bytes: 14" in ack

        def final_rows():
            rows = spark.table("tcp_listen_admission").collect()
            kinds = [r["kind"] for r in rows]
            ok = kinds.count("data") >= 1 and kinds.count("empty") >= 2
            return rows if ok else None

        rows = _wait(final_rows, msg="data + empty records after recovery")
        data = [r for r in rows if r["kind"] == "data"]
        assert any(bytes(r["payload"]) == b"after recovery" for r in data)
        # the two held-open connections produced zero-byte 'empty' records,
        # which the shared R9 projection would drop — exactly the
        # reference's "No data received" WARN path
        empties = [r for r in rows if r["kind"] == "empty"]
        assert len(empties) >= 2
    finally:
        for h in held:
            try:
                h.close()
            except OSError:
                pass
        q.stop()


def _send(port: int, payload: bytes) -> tuple[str, str]:
    """Send one payload nc-style (write, then EOF) and read until the
    server closes: the client's address as the server sees it, and the
    reply text."""
    c = _dial(port)
    try:
        client = "%s:%d" % c.getsockname()
        c.sendall(payload)
        c.shutdown(socket.SHUT_WR)
        c.settimeout(20)
        ack = b""
        while True:
            chunk = c.recv(4096)
            if not chunk:
                break
            ack += chunk
    finally:
        c.close()
    return client, ack.decode()


def _send_acked(port: int, payload: bytes) -> int:
    """Send one payload nc-style, require the reference ack, return the
    conn_id the server assigned (parsed from the ack text)."""
    text = _send(port, payload)[1]
    assert "Data processed successfully" in text, f"no ack for {payload!r}: {text!r}"
    return int(text.rsplit("Connection ID: ", 1)[1].strip())


def test_exactly_once_across_crash_restart(spark, tmp_path):
    """Round-7 item 7 — the drain guarantee (main.go:259-262) made
    crash-proof: a REAL mid-batch executor crash (poison pandas_udf, not a
    graceful stop) kills the query after clients were acked; restart from
    the same checkpoint replays the un-committed tail from the write-ahead
    journal via readBetweenOffsets on a fresh (port-less) reader copy — the
    path `test_replay_from_journal_without_binding` checks on its own — and
    the parquet sink's transaction log makes the redelivery exactly-once:
    every acked payload appears once, no duplicates, conn_ids strictly
    monotone across epochs."""
    port = _free_port()
    jdir = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    marker = str(tmp_path / "poison_armed")
    open(marker, "w").close()

    @F.pandas_udf("string")
    def checked(p: pd.Series) -> pd.Series:
        import os as _os

        if _os.path.exists(marker) and (p == "poison-me").any():
            raise RuntimeError("injected executor crash")
        return p

    def start():
        s = (
            tcp_listen_stream(spark, "127.0.0.1", port, journal_dir=jdir)
            .withColumn("payload_str", F.col("payload").cast("string"))
            .select("conn_id", "payload_str", checked("payload_str").alias("checked"))
        )
        return (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        epoch1 = [_send_acked(port, f"epoch1-{i}".encode()) for i in range(5)]
        poison_conn = _send_acked(port, b"poison-me")  # acked => journaled
        # the poison batch must CRASH the query (not a graceful stop)
        _wait(lambda: not q.isActive, deadline_sec=120, msg="query crash")
        assert q.exception() is not None
        assert "injected executor crash" in str(q.exception())
    finally:
        if q.isActive:
            q.stop()

    os.remove(marker)  # disarm
    q2 = start()
    try:
        epoch2 = [_send_acked(port, f"epoch2-{i}".encode()) for i in range(5)]
        expected = {f"epoch1-{i}" for i in range(5)} | {"poison-me"} | {
            f"epoch2-{i}" for i in range(5)
        }

        def all_delivered():
            try:
                rows = spark.read.parquet(out).collect()
            except Exception:
                return None
            return rows if {r["payload_str"] for r in rows} >= expected else None

        rows = _wait(all_delivered, deadline_sec=120, msg="exactly-once redelivery")
    finally:
        q2.stop()

    payloads = [r["payload_str"] for r in rows]
    # no loss, no duplicates — every acked payload exactly once
    assert sorted(payloads) == sorted(expected)
    conn_ids = {r["payload_str"]: r["conn_id"] for r in rows}
    assert len(set(conn_ids.values())) == len(conn_ids)
    # ordinals survive the crash monotonically: epoch2 ids continue AFTER
    # every pre-crash id (journal-recovered counter, main.go:219 parity)
    assert min(epoch2) > max(epoch1 + [poison_conn])
    assert conn_ids["poison-me"] == poison_conn


def _record(i: int) -> tuple:
    return (i + 1, "127.0.0.1", b"x%d" % i, "data", 1000 + i)


def _write_journal(jdir, indices, committed=0, torn_tail=False):
    os.makedirs(jdir, exist_ok=True)
    rec_path, com_path = _journal_paths(jdir)
    with open(com_path, "w") as f:
        f.write(str(committed))
    with open(rec_path, "w") as f:
        for i in indices:
            f.write(_Listener._journal_line(i, _record(i)))
        if torn_tail:
            f.write('{"i": 99, "c": 100, "a": "127.0.0.1", "p": "')  # mid-write crash


def test_wal_gap_refuses_resume(tmp_path):
    """VERDICT r8 "What's wrong" #1 (ADVICE item 1): a hole INSIDE the
    committed..top journal range is silent loss of acked-durable data
    (ack is only written after fsync, main.go:316-317 parity) — the
    listener must refuse to resume, loudly, instead of yielding fewer
    records than the offset range promises. A torn FINAL line is the
    benign crash artifact (never acked) and must still resume cleanly."""
    def start(jdir):
        return _Listener(
            "127.0.0.1", _free_port(), max_connections=4, max_workers=2,
            read_timeout_sec=5.0, journal_dir=jdir,
        )

    # gap at index 2 inside [0, 4] — must raise, not silently drop
    gap_dir = str(tmp_path / "gap")
    _write_journal(gap_dir, [0, 1, 3, 4])
    with pytest.raises(RuntimeError, match="WAL gap"):
        start(gap_dir)

    # torn final line (crash before fsync returned => never acked): benign,
    # resumes with exactly the intact prefix
    torn_dir = str(tmp_path / "torn")
    _write_journal(torn_dir, [0, 1, 2], torn_tail=True)
    lst = start(torn_dir)
    try:
        with lst._lock:
            assert [r[2] for r in lst._records] == [b"x0", b"x1", b"x2"]
            assert lst._base == 0
    finally:
        lst.stop()


def test_replay_from_journal_without_binding(tmp_path):
    """The crash-recovery read: a reader copy that never binds the port
    (the executor side of readBetweenOffsets) returns exactly the journaled
    records of [s, e), and refuses a range with a hole in it rather than
    return fewer records than the range holds."""
    jdir = str(tmp_path / "wal")
    _write_journal(jdir, range(6), committed=2)
    reader = TcpListenStreamReader({"journaldir": jdir, "port": str(_free_port())})
    assert list(reader.readBetweenOffsets({"idx": 2}, {"idx": 5})) == [_record(i) for i in range(2, 5)]
    assert list(reader.readBetweenOffsets({"idx": 0}, {"idx": 6})) == [_record(i) for i in range(6)]
    assert list(reader.readBetweenOffsets({"idx": 4}, {"idx": 4})) == []
    assert reader._listener is None  # replay bound no port

    gap_dir = str(tmp_path / "gap")
    _write_journal(gap_dir, [0, 1, 3, 4])
    reader = TcpListenStreamReader({"journaldir": gap_dir})
    assert list(reader.readBetweenOffsets({"idx": 0}, {"idx": 2})) == [_record(0), _record(1)]
    with pytest.raises(RuntimeError, match="journal replay gap"):
        reader.readBetweenOffsets({"idx": 1}, {"idx": 4})
    assert reader._listener is None


def test_no_record_after_stop(tmp_path):
    """A handler that finishes after stop() cannot journal its record, so
    it raises before the ack is written instead of acking a record held
    only in memory."""
    lst = _Listener(
        "127.0.0.1", _free_port(), max_connections=4, max_workers=2,
        read_timeout_sec=5.0, journal_dir=str(tmp_path / "wal"),
    )
    lst._append(1, "127.0.0.1:1", b"before", "data")
    lst.stop()
    with pytest.raises(ValueError):
        lst._append(2, "127.0.0.1:2", b"after", "data")
    assert [r[2] for r in lst._records] == [b"before"]


def test_failed_journal_write_is_logged(tmp_path, monkeypatch, caplog):
    """A handler whose journal write raises sends no ack, and the failure
    is logged once with the connection, the client and the exception
    instead of staying in the worker pool's unread future."""
    import logging

    lst = _Listener(
        "127.0.0.1", _free_port(), max_connections=4, max_workers=2,
        read_timeout_sec=5.0, journal_dir=str(tmp_path / "wal"),
    )

    def disk_full(*args):
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(lst, "_append", disk_full)
    caplog.set_level(logging.ERROR, logger="data_ingestor_web_app_spark.sources.tcp_listen")
    try:
        client, ack = _send(lst.port, b"payload")
    finally:
        lst.stop()
    assert ack == ""
    recs = [r for r in caplog.records if r.name.endswith("sources.tcp_listen")]
    assert len(recs) == 1, [r.getMessage() for r in recs]
    msg = recs[0].getMessage()
    assert msg.startswith(f"conn 1 from {client} closed without ack"), msg
    assert "No space left on device" in msg


def test_journal_is_required():
    """The listen source has one delivery mode: no journal, no stream."""
    with pytest.raises(TypeError):
        tcp_listen_stream(None, "127.0.0.1", 0)
    with pytest.raises(ValueError, match="journalDir"):
        TcpListenStreamReader({"port": "0"})


def test_prune_during_appends_keeps_every_record(tmp_path):
    """prune() persists the committed offset outside the listener lock while
    handler threads keep appending: every record is drained exactly once at
    its absolute index, and a restart resumes at the last persisted offset
    with exactly the uncommitted tail."""
    import sys
    import threading

    jdir = str(tmp_path / "wal")

    def start():
        return _Listener(
            "127.0.0.1", _free_port(), max_connections=4, max_workers=2,
            read_timeout_sec=5.0, journal_dir=jdir,
        )

    n_threads, per_thread = 8, 40
    total = n_threads * per_thread

    def handler(k):
        for i in range(per_thread):
            lst._append(k * per_thread + i, "127.0.0.1", b"p%d" % (k * per_thread + i), "data")

    lst = start()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    seen, committed = [], 0
    try:
        threads = [threading.Thread(target=handler, args=(k,)) for k in range(n_threads)]
        for t in threads:
            t.start()
        while any(t.is_alive() for t in threads):
            rows, end = lst.drain(committed)
            seen.extend(rows)
            lst.prune(end)
            committed = end
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
        rows, end = lst.drain(committed)
        seen.extend(rows)
    finally:
        sys.setswitchinterval(old)
        lst.stop()
    assert end == total
    assert sorted(r[0] for r in seen) == list(range(total))
    assert all(r[2] == b"p%d" % r[0] for r in seen)

    lst = start()
    try:
        assert lst._base == committed
        assert [r[0] for r in lst._records] == [r[0] for r in seen[committed:]]
    finally:
        lst.stop()
