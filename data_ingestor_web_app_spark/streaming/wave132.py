"""Wave-132 streaming members: per-record ack via a foreach sink (R13)
and timeout-closed sessions (GroupStateTimeout).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir
from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.streaming import runtime


def make_ack_writer(ack_dir: str):
    """ForeachWriter appending one `ACK <event_id>` line per record to a
    file keyed by (epoch, partition), opened with TRUNCATE: a retried task
    (foreach is at-least-once) rewrites its own previous partial attempt
    rather than appending to it, which makes the ledger idempotent —
    replay-safe exactly-once acks without any coordination. Shared by the
    stream_foreach_ack query and the chaos kill-restart test."""

    class AckWriter:
        def open(self, partition_id: int, epoch_id: int) -> bool:
            self._f = open(
                os.path.join(ack_dir, f"ack-{epoch_id}-{partition_id}.txt"), "w"
            )
            return True

        def process(self, row) -> None:  # noqa: ANN001
            self._f.write(f"ACK {row['event_id']}\n")

        def close(self, error) -> None:  # noqa: ANN001
            self._f.close()
            if error:
                raise error

    return AckWriter()


@query(
    "stream_foreach_ack",
    oracle="SELECT event_id FROM events",
)
def stream_foreach_ack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 closed: per-record acknowledgement through a `foreach` sink —
    the reference answers every payload with "Data received and logged"
    on the live connection (/root/reference/main.go:317-318). Spark's
    per-record sink is the ForeachWriter: open(partition, epoch) →
    process(row) → close(), here appending one `ACK <event_id>` line per
    record to a partition-epoch file (the shape a real deployment uses
    to push acks at a callback endpoint or reply topic). The ack files
    are then read back and parsed; the oracle is simply `SELECT event_id
    FROM events` — hash equality proves every event was acked exactly
    once and nothing else was.

    Semantics note: foreach is at-least-once under retries; the writer
    makes the ack ledger IDEMPOTENT by keying each file on
    (epoch, partition) and opening with truncate — a replayed task
    overwrites its own previous attempt instead of appending duplicates,
    so the final ledger is exactly-once even across mid-batch crashes
    (r6: proven by tests/test_chaos_streaming.py's double-kill restart).
    This is the file-ledger form of the idempotent ack endpoint a real
    deployment uses, exactly as with the reference's TCP reply.

    Scale shape: acks are written executor-side per partition — no
    driver involvement, no shuffle beyond the source's own."""
    ack_dir = scratch_dir("ack_sink_")
    s = runtime.events_stream(spark, sf_dir).select("event_id")

    q = (
        s.writeStream.foreach(make_ack_writer(ack_dir))
        .option("checkpointLocation", scratch_dir("ack_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.text(ack_dir)
    return back.select(
        F.regexp_extract("value", r"^ACK (\d+)$", 1).cast("long").alias("event_id")
    )


_SESSION_GAP_MS = 30 * 60 * 1000  # same 30-min gap as the batch sessionizers


@query(
    "stream_session_timeout",
    oracle="""
    WITH o AS (
        SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events
    ),
    marked AS (
        SELECT user_id, ms,
               CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id
                                            ORDER BY ms) > 1800000
                    THEN 1 ELSE 0 END AS new_s
        FROM o
    ),
    sess AS (
        SELECT user_id, ms,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ),
    agg AS (
        SELECT user_id, sid, MIN(ms) AS session_start_ms,
               MAX(ms) AS session_end_ms,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
    ),
    wm AS (SELECT MAX(CAST(epoch_ms(ts) AS BIGINT)) AS maxms FROM events)
    SELECT user_id, session_start_ms, session_end_ms, n_events
    FROM agg CROSS JOIN wm
    WHERE session_end_ms + 1800000 < maxms
    """,
)
def stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions closed by STATE TIMEOUT rather than by observing the next
    event: per user, applyInPandasWithState accumulates the open session
    and arms an event-time timeout at last_seen + 30 min; when the
    watermark passes that point with no new events, Spark invokes the
    function with hasTimedOut=true and the session is emitted and its
    state removed. This is the mechanism that closes a quiet user's last
    session WITHOUT waiting for their next visit — the gap-based batch
    twin (udaf_gap_sessions) only discovers a boundary when a successor
    event arrives.

    Promoted from rows-only to hash-exact in r7: the emitted set is
    DETERMINISTIC — successor-closed sessions always emit, and a
    timeout-closed session emits iff the final watermark (= global max
    event time under the 0-second delay) strictly exceeds last_seen +
    30 min. The oracle is therefore the batch gap sessionization minus
    exactly the sessions with session_end + 30 min >= max(ts) (each
    user's still-open tail the replay ends before timing out) —
    empirically hash-exact at sf0.01 (9542 sessions), which also pins
    Spark's strict-inequality timer semantics.

    Scale shape: keyed state of three scalars; timers are per-key and
    fire on watermark advance — O(active users) state, no shuffle beyond
    the key cluster."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = (
        runtime.events_stream(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts", "event_id")
    )

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [int(user_id)],
                    "session_start_ms": [start_ms],
                    "session_end_ms": [last_ms],
                    "n_events": [n],
                }
            )
            return
        chunks = list(pdf_iter)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
        start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
        out = []
        for m in ms:
            if start_ms is None:
                start_ms, last_ms, n = m, m, 1
            elif m - last_ms > _SESSION_GAP_MS:
                out.append((int(user_id), start_ms, last_ms, n))
                start_ms, last_ms, n = m, m, 1
            else:
                last_ms, n = m, n + 1
        state.update((start_ms, last_ms, n))
        state.setTimeoutTimestamp(last_ms + _SESSION_GAP_MS)
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start_ms", "session_end_ms", "n_events"],
            )

    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, session_start_ms long, session_end_ms long, "
            "n_events long"
        ),
        stateStructType="start_ms long, last_ms long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return runtime.run_to_memory(out, "append")
