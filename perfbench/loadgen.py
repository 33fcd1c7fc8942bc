"""Open-loop TCP load generator for the listen-mode ingest source.

One connection per payload, due on a fixed schedule (``RATE`` per second)
that does not slow when the server slows: at most ``WORKERS`` threads, each
holding at most one open connection, take the next due payload; when all
are busy the next one starts late, and its latency still counts from when
it was due. Each connection sends its payload, half-closes and reads the
ack until EOF.

Payloads are seeded. Sizes cross the server's 200-byte WARN/INFO level
threshold and its 4096-byte read chunk, and about 1% are empty. The first
48 bytes of a non-empty payload hold its sequence number and due time,
because that is all the LogEntry keeps (``binary_data_hex``).

Run as a program it writes one JSON line per connection to ``--out``:
``[seq, size, due_ns, start_ns, ack_ns, conn_id, status]`` with epoch
nanosecond times (``ack_ns`` 0 when no ack came) and ``status`` one of
``ok`` (acked), ``empty`` (empty payload, closed without ack as the
protocol says), ``noack`` (non-empty payload closed without ack) or
``refused`` (connect failed).
"""

from __future__ import annotations

import argparse
import json
import random
import re
import socket
import threading
import time

HEADER = 48
# Offered connections per second. Four client connections at ~2-4 ms mean
# service time (the listener's per-record WAL append + ack) cap the client
# near 1,000-2,000/s on 4 cores, so 1,000/s sits on the knee: the generator
# falls behind on some runs and every later record inherits the lag. Half
# that keeps the open loop on schedule.
RATE = 500.0
WORKERS = 4
FIRST_SEQ = 1  # sequence 0 is the caller's readiness probe
ACK = re.compile(rb"Bytes: (\d+)\nConnection ID: (\d+)\n")


def sizes(n: int, seed: int) -> list[int]:
    """Payload sizes: ~1% empty, the rest spread over three bands —
    below the 200-byte WARN threshold, between it and the 4096-byte read
    chunk, and above the chunk (several reads per payload)."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.01:
            out.append(0)
        elif r < 0.40:
            out.append(rng.randint(HEADER, 199))
        elif r < 0.85:
            out.append(rng.randint(200, 4095))
        else:
            out.append(rng.randint(4096, 12_000))
    return out


def header(seq: int, due_ns: int) -> bytes:
    h = f"{seq:012d}|{due_ns:019d}|".encode()
    return h + b"." * (HEADER - len(h))


def parse_header(prefix: bytes) -> tuple[int, int]:
    """(seq, due_ns) from a payload's first bytes."""
    seq, due, _ = prefix[:HEADER].split(b"|", 2)
    return int(seq), int(due)


def payload(seq: int, size: int, due_ns: int, filler: bytes) -> bytes:
    if size == 0:
        return b""
    body = filler[(seq * 7919) % (len(filler) - size):][: size - HEADER]
    return header(seq, due_ns) + body


def exchange(host: str, port: int, data: bytes) -> bytes:
    """One connection: send ``data``, half-close, read the reply to EOF."""
    with socket.create_connection((host, port), timeout=10) as s:
        if data:
            s.sendall(data)
        s.shutdown(socket.SHUT_WR)
        reply = b""
        while chunk := s.recv(256):
            reply += chunk
    return reply


def filler_bytes(seed: int, n: int = 1 << 16) -> bytes:
    rng = random.Random(seed ^ 0x5EED)
    alphabet = b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ,.:-"
    return bytes(rng.choice(alphabet) for _ in range(n))


class LoadGen:
    def __init__(self, host: str, port: int, seconds: float, seed: int):
        self.host, self.port = host, port
        self.n = int(RATE * seconds)
        self.period_ns = int(1e9 / RATE)
        self.sizes = sizes(self.n, seed)
        self.filler = filler_bytes(seed)
        self.results: list[list] = [None] * self.n  # type: ignore[list-item]
        self._next = 0
        self._lock = threading.Lock()

    def _take(self) -> int | None:
        with self._lock:
            i = self._next
            self._next += 1
        return i if i < self.n else None

    def _one(self, i: int, mono0: int, epoch0: int) -> list:
        due_off = i * self.period_ns
        while (lag := mono0 + due_off - time.monotonic_ns()) > 0:
            time.sleep(lag / 1e9)
        start = time.monotonic_ns()
        due_ns = epoch0 + due_off
        seq = FIRST_SEQ + i
        size = self.sizes[i]
        data = payload(seq, size, due_ns, self.filler)
        row = [seq, size, due_ns, epoch0 + (start - mono0), 0, 0, "refused"]
        try:
            ack = exchange(self.host, self.port, data)
        except OSError:
            return row
        m = ACK.search(ack)
        if m and int(m.group(1)) == size:
            row[4] = epoch0 + (time.monotonic_ns() - mono0)
            row[5] = int(m.group(2))
            row[6] = "ok"
        else:
            row[6] = "empty" if size == 0 and not ack else "noack"
        return row

    def _worker(self, mono0: int, epoch0: int) -> None:
        while (i := self._take()) is not None:
            self.results[i] = self._one(i, mono0, epoch0)

    def run(self) -> list[list]:
        mono0, epoch0 = time.monotonic_ns(), time.time_ns()
        threads = [threading.Thread(target=self._worker, args=(mono0, epoch0))
                   for _ in range(WORKERS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return self.results


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rows = LoadGen(a.host, a.port, a.seconds, a.seed).run()
    with open(a.out, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


if __name__ == "__main__":
    main()
