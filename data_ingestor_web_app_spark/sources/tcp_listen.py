"""Listen-mode TCP ingestion — the engine's one live ingest path (R1).

The reference is a TCP *server*: it binds, accepts connections, reads each
connection's bytes until EOF/idle, writes an ack, and makes a LogEntry
(reference main.go:199-257, 266-318). This module does the same with a
custom Python DataSource (Spark 4 `SimpleDataSourceStreamReader`) that
LISTENS: `echo 'test data' | nc <host> <port>` — the reference's own
deploy smoke (deploy.sh:174) — works verbatim against the engine.

Each record is one row of ``SCHEMA``: ``conn_id bigint, client_ip string,
payload binary, kind string, recv_epoch_ms bigint``. The payload stays raw
bytes; `to_logentries` derives every LogEntry field from them (a payload
need not be valid UTF-8), so no decoded copy is carried.

Semantics mirrored from main.go:
- accept loop with a monotonically increasing connection ordinal
  (main.go:219, 234: `atomic.AddUint64(&connectionID, 1)`) — a true
  per-connection id, not a content hash;
- reject-above-cap admission (main.go:252-255): a connection semaphore of
  `maxConnections`; when full the connection is closed IMMEDIATELY without
  reading — the shed-load leg. Rejections are emitted IN-BAND as records
  with kind='rejected' so they are observable through the stream itself
  (Spark-idiomatic: metrics are data), mirroring the reference's WARN log;
- bounded worker pool (main.go:26, 172-187): admitted connections are
  handled by `maxWorkers` threads; like the reference's "worker pool full,
  handle directly" fallback, admitted work is never dropped — it queues;
- chunked read with a 1 s idle deadline (main.go:273-296): 4096-byte
  reads accumulate until EOF or timeout — one payload per connection;
- empty-payload WARN (main.go:298-301): emitted as kind='empty' with a
  zero-byte payload; the shared R9 projection (`to_logentries`'s
  byte_count > 0 filter) then drops it, exactly like the reference never
  logs a data record for it;
- per-record ack written back on the connection (main.go:316-317):
  "Data processed successfully\\nBytes: N\\nConnection ID: K\\n".

Durability: every record is fsync'd to a write-ahead journal in the
required ``journalDir`` BEFORE the ack is written (ack ⇒ durable), commit()
persists the committed offset, and restart replays the un-committed tail
from the journal — exactly-once delivery of acked records across a crash,
which is the crash-proof version of the reference's drain-on-shutdown
guarantee (main.go:259-262).

Scale posture: a single listening socket is inherently one node — the
reference's own design (318 LoC, one process). The SimpleDataSourceStream
Reader runs in the driver's source process, which matches that topology;
at 100 TB/day the ingestion edge is a fleet of such listeners writing to a
partitioned log (Kafka), and the downstream `to_logentries` plan is
already source-agnostic (stateless projection). The source exists for
protocol parity, not bulk throughput — SURVEY §2A R1.
"""

from __future__ import annotations

import base64
import errno
import json
import logging
import os
import socket
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

_log = logging.getLogger(__name__)

SCHEMA = "conn_id bigint, client_ip string, payload binary, kind string, recv_epoch_ms bigint"


def _journal_paths(journal_dir: str) -> tuple[str, str]:
    return (
        os.path.join(journal_dir, "records.jsonl"),
        os.path.join(journal_dir, "committed"),
    )


def _journal_load(journal_dir: str) -> tuple[dict[int, tuple], int]:
    """Read the WAL: {absolute_idx: record}, committed offset (0 if none)."""
    rec_path, com_path = _journal_paths(journal_dir)
    committed = 0
    if os.path.exists(com_path):
        with open(com_path) as f:
            committed = int(f.read().strip() or 0)
    records: dict[int, tuple] = {}
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    d = json.loads(line)
                except ValueError:
                    continue  # torn tail write from a crash — drop it
                records[int(d["i"])] = (
                    int(d["c"]),
                    d["a"],
                    base64.b64decode(d["p"]),
                    d["k"],
                    int(d["t"]),
                )
    return records, committed


def _journal_range(
    journal_dir: str, loaded: dict[int, tuple], start: int, end: int, gap: str, refusal: str
) -> list[tuple]:
    """The journaled records at indices [start, end), in order.

    Ack ⇒ durable: every index in the range was fsync'd before its client
    ack went out, so a hole is silent loss of acknowledged data (a torn
    FINAL line is different — it was never acked and is not in the range).
    Raise ``gap`` rather than yield fewer records than the range promises."""
    missing = [i for i in range(start, end) if i not in loaded]
    if missing:
        raise RuntimeError(
            f"{gap}: offsets {missing[:10]}{'...' if len(missing) > 10 else ''} "
            f"absent from the journal at {journal_dir!r} for the range "
            f"[{start}, {end}); {refusal}"
        )
    return [loaded[i] for i in range(start, end)]


class _Listener:
    """The accept loop + worker pool + record buffer (main.go:199-318).

    Every record is appended to a write-ahead journal in ``journal_dir``
    (fsync'd BEFORE the client's ack is written), and commit()
    persists the committed offset — so a restarted listener resumes with
    every acked-but-uncommitted record intact and its connection ordinal
    continuing monotonically (main.go:259-262 drain guarantee, made
    crash-proof). Single-writer by construction: one listener per journal
    dir, the same topology as the reference daemon under systemd."""

    def __init__(
        self,
        host: str,
        port: int,
        max_connections: int,
        max_workers: int,
        read_timeout_sec: float,
        journal_dir: str,
    ):
        self.host = host
        self.port = port
        self.max_connections = max_connections
        self.read_timeout_sec = read_timeout_sec
        self._lock = threading.Lock()
        self._records: list[tuple] = []  # absolute-indexed via _base
        self._base = 0
        self._conn_ordinal = 0
        self._journal_dir = journal_dir
        os.makedirs(journal_dir, exist_ok=True)
        loaded, committed = _journal_load(journal_dir)
        if loaded:
            # resume: memory = journal beyond the committed offset;
            # ordinals continue after the largest journaled conn_id
            self._base = committed
            self._records = _journal_range(
                journal_dir, loaded, committed, max(loaded) + 1,
                "WAL gap", "refusing to resume with silent data loss",
            )
            self._conn_ordinal = max(r[0] for r in loaded.values())
        # compact: rewrite the journal to only the uncommitted tail so it
        # cannot grow without bound across restarts (in-session it is
        # append-only; rotation beyond that is the retention ops' job)
        rec_path, _ = _journal_paths(journal_dir)
        tmp = rec_path + ".tmp"
        with open(tmp, "w") as f:
            for i in sorted(k for k in loaded if k >= committed):
                f.write(self._journal_line(i, loaded[i]))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, rec_path)
        self._journal_f = open(rec_path, "a")  # noqa: SIM115 (long-lived WAL handle)
        self._slots = threading.Semaphore(max_connections)
        self._pool = ThreadPoolExecutor(max_workers=max_workers)
        self._stopped = threading.Event()
        # Bind with a bounded retry: on crash-restart the previous runner
        # process may still be tearing its listener down for a moment (the
        # systemd restart analog — the new daemon waits for the port)
        import time as _time

        deadline = _time.time() + 20.0
        while True:
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
            self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            try:
                self._sock.bind((host, port))
                break
            except OSError as exc:
                self._sock.close()
                # Only EADDRINUSE is the transient restart race worth waiting
                # out; anything else (EADDRNOTAVAIL from a bad host option,
                # EACCES on a privileged port) is permanent — fail fast.
                if exc.errno != errno.EADDRINUSE or _time.time() > deadline:
                    raise
                _time.sleep(0.3)
        self._sock.listen(128)
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()

    def _now_ms(self) -> int:
        import time

        return int(time.time() * 1000)

    @staticmethod
    def _journal_line(idx: int, rec: tuple) -> str:
        return (
            json.dumps(
                {
                    "i": idx,
                    "c": rec[0],
                    "a": rec[1],
                    "p": base64.b64encode(rec[2]).decode(),
                    "k": rec[3],
                    "t": rec[4],
                }
            )
            + "\n"
        )

    def _append(self, conn_id: int, client_ip: str, payload: bytes, kind: str) -> None:
        rec = (conn_id, client_ip, payload, kind, self._now_ms())
        with self._lock:
            # WAL-before-ack: the record is durable before the caller (e.g.
            # _handle's ack write) can tell the client "processed". After
            # stop() the journal is closed, so the write raises and no ack
            # goes out.
            idx = self._base + len(self._records)
            self._journal_f.write(self._journal_line(idx, rec))
            self._journal_f.flush()
            os.fsync(self._journal_f.fileno())
            self._records.append(rec)

    def _accept_loop(self) -> None:
        while not self._stopped.is_set():
            try:
                conn, addr = self._sock.accept()
            except OSError:
                break  # socket closed during shutdown (main.go:225-231)
            with self._lock:
                self._conn_ordinal += 1
                conn_id = self._conn_ordinal
            client_ip = f"{addr[0]}:{addr[1]}"
            # main.go:237-255 — non-blocking semaphore acquire; full => close
            # the connection unread (the shed-load leg), recorded in-band
            if self._slots.acquire(blocking=False):
                self._pool.submit(self._handle, conn, conn_id, client_ip)
            else:
                self._append(conn_id, client_ip, b"", "rejected")
                conn.close()

    def _handle(self, conn: socket.socket, conn_id: int, client_ip: str) -> None:
        # main.go:266-318 — chunked read until EOF or idle timeout, then ack
        try:
            conn.settimeout(self.read_timeout_sec)
            data = bytearray()
            while True:
                try:
                    chunk = conn.recv(4096)
                except socket.timeout:
                    break  # idle => payload complete (main.go:289-292)
                except OSError:
                    return
                if not chunk:
                    break  # EOF
                data.extend(chunk)
            if data:
                self._append(conn_id, client_ip, bytes(data), "data")
                ack = (
                    f"Data processed successfully\nBytes: {len(data)}\n"
                    f"Connection ID: {conn_id}\n"
                )
                try:
                    conn.sendall(ack.encode())
                except OSError:
                    pass
            else:
                self._append(conn_id, client_ip, b"", "empty")
        except Exception as exc:  # noqa: BLE001 — the pool's future is never read
            # A journal write or fsync failed: the connection closes with no
            # ack and the client sees EOF. Record it here, once.
            _log.exception(
                "conn %d from %s closed without ack: %r", conn_id, client_ip, exc
            )
        finally:
            try:
                conn.close()
            except OSError:
                pass
            self._slots.release()

    def _check_start(self, op: str, start_idx: int) -> None:
        # A checkpoint offset below the compacted journal base means the
        # caller is asking for records that were already pruned — a
        # negative Python slice would silently return the wrong tail
        # records instead of failing. Caller holds _lock.
        if start_idx < self._base:
            raise ValueError(
                f"{op} start_idx {start_idx} precedes committed journal "
                f"base {self._base}: stale checkpoint vs compacted WAL"
            )

    def drain(self, start_idx: int) -> tuple[list[tuple], int]:
        with self._lock:
            self._check_start("drain", start_idx)
            rows = self._records[start_idx - self._base :]
            return rows, self._base + len(self._records)

    def slice(self, start_idx: int, end_idx: int) -> list[tuple]:
        with self._lock:
            self._check_start("slice", start_idx)
            return self._records[start_idx - self._base : end_idx - self._base]

    def prune(self, end_idx: int) -> None:
        # Only the stream thread prunes, so the committed offset is written
        # outside _lock: handlers' fsyncs and this one do not queue behind
        # each other. Persist FIRST (atomic rename), then drop memory — a
        # crash between the two just re-prunes.
        _, com_path = _journal_paths(self._journal_dir)
        tmp = com_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(end_idx))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, com_path)
        with self._lock:
            keep = end_idx - self._base
            if keep > 0:
                del self._records[:keep]
                self._base = end_idx

    def stop(self) -> None:
        self._stopped.set()
        try:
            self._sock.close()
        except OSError:
            pass
        self._pool.shutdown(wait=False)
        with self._lock:
            try:
                self._journal_f.close()
            except OSError:
                pass


class TcpListenStreamReader(SimpleDataSourceStreamReader):
    """Offsets are absolute record indexes.

    Delivery is exactly-once for every acked record: each record is fsync'd
    to the write-ahead journal in ``journalDir`` before the client's ack,
    and commit() persists the committed offset. readBetweenOffsets() replays
    any un-committed offset range — from the listener's buffer in the
    process that owns the port, straight from the journal on pickled
    executor copies, which never bind it — so a kill-and-restart from
    checkpoint redelivers every acked record exactly once (offset-ranged
    replay + Spark's idempotent file sink), with connection ordinals
    continuing monotonically."""

    def __init__(self, options: dict):
        if not options.get("journaldir"):
            raise ValueError(
                "tcplisten requires the journalDir option: records are "
                "journaled before they are acked"
            )
        self._options = options
        self._journal_dir = options["journaldir"]
        self._listener: _Listener | None = None

    def _ensure(self) -> _Listener:
        if self._listener is None:
            self._listener = _Listener(
                host=self._options.get("host", "127.0.0.1"),
                port=int(self._options.get("port", 0)),
                max_connections=int(self._options.get("maxconnections", 1000)),
                max_workers=int(self._options.get("maxworkers", 100)),
                read_timeout_sec=float(self._options.get("readtimeoutsec", 1.0)),
                journal_dir=self._journal_dir,
            )
        return self._listener

    def initialOffset(self) -> dict:
        lst = self._ensure()
        # restart without a checkpoint: resume past pruned history
        return {"idx": lst._base}

    def read(self, start: dict):
        rows, end_idx = self._ensure().drain(int(start["idx"]))
        return iter(rows), {"idx": end_idx}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Runs on EXECUTOR python workers over a pickled COPY of this reader
        # (the wrapper's data path when the driver's prefetch cache misses —
        # notably every empty batch, and the post-restart replay of the last
        # un-committed batch). A copy must NEVER bind the port: the one live
        # listener belongs to the driver-side runner process that calls
        # initialOffset()/read(). A copy replays from the WAL file (shared
        # filesystem, no socket).
        s, e = int(start["idx"]), int(end["idx"])
        if self._listener is not None:
            return iter(self._listener.slice(s, e))
        if s >= e:
            return iter(())
        loaded, _ = _journal_load(self._journal_dir)
        return iter(
            _journal_range(
                self._journal_dir, loaded, s, e,
                "journal replay gap", "refusing to replay fewer records than the range holds",
            )
        )

    def commit(self, end: dict) -> None:
        self._ensure().prune(int(end["idx"]))

    def stop(self) -> None:
        if self._listener is not None:
            self._listener.stop()


class TcpListenDataSource(DataSource):
    """format("tcplisten"); options: host, port, maxConnections, maxWorkers,
    readTimeoutSec, and the required journalDir (the write-ahead journal
    that makes redelivery across restarts exactly-once). Option keys
    arrive case-insensitively lowered."""

    @classmethod
    def name(cls) -> str:
        return "tcplisten"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema) -> TcpListenStreamReader:  # noqa: ARG002
        return TcpListenStreamReader(self.options)


_registered_for: set[int] = set()


def register(spark: SparkSession) -> None:
    if id(spark) not in _registered_for:
        spark.dataSource.register(TcpListenDataSource)
        _registered_for.add(id(spark))


def tcp_listen_stream(
    spark: SparkSession,
    host: str,
    port: int,
    max_connections: int = 1000,
    max_workers: int = 100,
    read_timeout_sec: float = 1.0,
    *,
    journal_dir: str,
) -> DataFrame:
    """The raw listen-mode stream: data + rejected + empty records, each
    journaled in ``journal_dir`` before its ack (exactly-once redelivery
    across a crash)."""
    register(spark)
    return (
        spark.readStream.format("tcplisten")
        .option("host", host)
        .option("port", str(port))
        .option("maxConnections", str(max_connections))
        .option("maxWorkers", str(max_workers))
        .option("readTimeoutSec", str(read_timeout_sec))
        .option("journalDir", journal_dir)
        .load()
    )


def tcp_listen_logentry_stream(
    spark: SparkSession, host: str, port: int, **kw
) -> DataFrame:
    """R1 end-to-end: accepted TCP payloads → LogEntry records via the
    shared R4-R10 projection of the batch ingest query. ``kw`` goes to
    `tcp_listen_stream` and must include ``journal_dir``.
    kind='rejected'/'empty' records carry zero-byte payloads, so the shared
    byte_count > 0 filter drops them exactly like main.go:298-301 never
    builds a data record for them."""
    from data_ingestor_web_app_spark.ingest.records import to_logentries

    raw = tcp_listen_stream(spark, host, port, **kw)
    payloads = raw.select(
        "conn_id",
        "payload",
        "client_ip",
        F.timestamp_millis(F.col("recv_epoch_ms")).alias("recv_ts"),
    )
    return to_logentries(payloads)
