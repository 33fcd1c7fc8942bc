"""Wave-127 streaming member: the R18 token-bucket admission control as a
stateful stream, per-event decisions carried across micro-batches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.operators.admission import _CAP, _COST, _REFILL_DIV
from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.streaming import runtime


@query(
    "stream_rate_limit",
    # The SAME recursive-CTE token-bucket replay that oracles the batch
    # operator (operators/admission.py events_rate_limit): the streaming
    # run's per-user fold order is the deterministic (ts, event_id) replay
    # order, keyed state carries (tokens, last_ms) across micro-batches,
    # and append mode emits every decision exactly once — so the final
    # memory-sink table is a pure function of the data and the sequential
    # fold is SQL-expressible (VERDICT r8 item 6).
    oracle="""
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id,
               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    sim AS (
        SELECT user_id, event_id, ts_ms, rn,
               TRUE AS admitted, CAST(1000 AS BIGINT) AS tokens_after
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT q.user_id, q.event_id, q.ts_ms, q.rn,
               LEAST(s.tokens_after + (q.ts_ms - s.ts_ms) // 7200,
                     CAST(2000 AS BIGINT)) >= 1000 AS admitted,
               LEAST(s.tokens_after + (q.ts_ms - s.ts_ms) // 7200,
                     CAST(2000 AS BIGINT))
               - CASE WHEN LEAST(s.tokens_after + (q.ts_ms - s.ts_ms) // 7200,
                                 CAST(2000 AS BIGINT)) >= 1000
                      THEN 1000 ELSE 0 END AS tokens_after
        FROM sim s
        JOIN seq q ON q.user_id = s.user_id AND q.rn = s.rn + 1
    )
    SELECT user_id, event_id, admitted, tokens_after FROM sim
    """,
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_rate_limit (reference R18, main.go's
    connection cap): the SAME integer milli-token bucket fold, but the
    per-user state (tokens, last-arrival ms) lives in
    applyInPandasWithState and survives micro-batch boundaries — the
    form a live ingest actually runs, admitting or shedding each event
    as it arrives. pytest proves the incremental decisions equal the
    batch operator's output row-for-row regardless of how the replay
    chunked the stream (chunk-order independence of keyed folds).

    Scale shape: one shuffle on user_id into keyed state; state is two
    scalars per user; a hot user bounds one task's work by its own event
    count, exactly like the reference's per-connection goroutine.

    Batch-internal order is the total (ts, event_id) sort over the
    concatenated key-batch (chunk-span lesson from wave-122)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = runtime.events_stream(spark, sf_dir).select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms"), "ts"
    )

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        tokens, last_ms = state.get if state.exists else (_CAP, -1)
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_ms", "event_id"]
            )
            eids, adm, after = [], [], []
            for eid, ts_ms in zip(pdf["event_id"], pdf["ts_ms"]):
                ts_ms = int(ts_ms)
                if last_ms >= 0:
                    tokens = min(_CAP, tokens + (ts_ms - last_ms) // _REFILL_DIV)
                last_ms = ts_ms
                ok = tokens >= _COST
                if ok:
                    tokens -= _COST
                eids.append(int(eid))
                adm.append(ok)
                after.append(tokens)
            state.update((tokens, last_ms))
            yield pd.DataFrame(
                {
                    "user_id": [int(user_id)] * len(eids),
                    "event_id": eids,
                    "admitted": adm,
                    "tokens_after": after,
                }
            )
        else:
            state.update((tokens, last_ms))

    return runtime.run_to_memory(
        s.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, event_id long, admitted boolean, tokens_after long"
            ),
            stateStructType="tokens long, last_ms long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "append",
    )
