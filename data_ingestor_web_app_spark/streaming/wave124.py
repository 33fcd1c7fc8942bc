"""Wave-124 streaming member: sharded space-saving heavy-hitter sketch in
explicit stream state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.streaming import runtime

_SS_CAP = 32  # counters per shard
_SS_SHARDS = 8


@query(
    "stream_space_saving_topk",
    oracle=f"""
    WITH RECURSIVE
    base AS MATERIALIZED (
        SELECT CAST(user_id % {_SS_SHARDS} AS BIGINT) AS shard,
               CAST(user_id AS BIGINT) AS user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id % {_SS_SHARDS}
                                  ORDER BY ts, event_id) AS seq
        FROM events
    ),
    nsh AS MATERIALIZED (SELECT shard, COUNT(*) AS n FROM base GROUP BY shard),
    -- sequential space-saving fold, one event per shard per level; the
    -- deterministic replay order (ts, event_id) makes the final sketch a
    -- pure function of the data, so the sketch itself is SQL-expressible
    -- (VERDICT r8 item 6). NB list_contains, NOT list_position IS NOT
    -- NULL: DuckDB's list_position on an EMPTY list returns 0, not NULL.
    sim AS (
        SELECT shard, CAST(0 AS BIGINT) AS step,
               CAST([] AS BIGINT[]) AS keys,
               CAST([] AS BIGINT[]) AS counts,
               CAST([] AS BIGINT[]) AS errs
        FROM nsh
        UNION ALL
        SELECT s.shard, s.step + 1,
               CASE
                 WHEN list_contains(s.keys, e.user_id) THEN s.keys
                 WHEN len(s.keys) < {_SS_CAP}
                      THEN list_append(s.keys, e.user_id)
                 ELSE list_transform(s.keys, (x, i) ->
                      CASE WHEN i = list_position(s.counts, list_min(s.counts))
                           THEN e.user_id ELSE x END)
               END,
               CASE
                 WHEN list_contains(s.keys, e.user_id) THEN
                      list_transform(s.counts, (x, i) ->
                          CASE WHEN i = list_position(s.keys, e.user_id)
                               THEN x + 1 ELSE x END)
                 WHEN len(s.keys) < {_SS_CAP}
                      THEN list_append(s.counts, CAST(1 AS BIGINT))
                 ELSE list_transform(s.counts, (x, i) ->
                      CASE WHEN i = list_position(s.counts, list_min(s.counts))
                           THEN x + 1 ELSE x END)
               END,
               CASE
                 WHEN list_contains(s.keys, e.user_id) THEN s.errs
                 WHEN len(s.keys) < {_SS_CAP}
                      THEN list_append(s.errs, CAST(0 AS BIGINT))
                 ELSE list_transform(s.errs, (x, i) ->
                      CASE WHEN i = list_position(s.counts, list_min(s.counts))
                           THEN s.counts[list_position(s.counts,
                                                       list_min(s.counts))]
                           ELSE x END)
               END
        FROM sim s JOIN base e ON e.shard = s.shard AND e.seq = s.step + 1
    ),
    fin AS (
        SELECT s.shard, s.keys, s.counts, s.errs, nsh.n
        FROM sim s JOIN nsh ON nsh.shard = s.shard AND s.step = nsh.n
    )
    SELECT shard,
           UNNEST(keys) AS user_id,
           UNNEST(counts) AS est_count,
           UNNEST(errs) AS err_bound,
           n AS shard_events
    FROM fin
    """,
)
def stream_space_saving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded space-saving heavy hitters (Metwally, Agrawal & El Abbadi,
    ICDT 2005, public) as a custom stateful streaming operator: events
    are sharded by user_id % 8; each shard's applyInPandasWithState keeps
    at most 32 (user, est_count, err_bound) counters across micro-batches
    — on a miss with a full sketch, the minimum counter is evicted and
    its count+1 becomes the newcomer's estimate with err = old minimum.
    The textbook guarantees (est >= true >= est - err; any user with
    true shard count > N_shard/capacity is monitored) are asserted in
    pytest against the exact batch counts.

    This is how a 100 TB ingest watches its top talkers without a
    per-user groupBy: O(capacity) state per shard regardless of user
    cardinality, one shuffle on the shard key, merged downstream by
    summing per-shard estimates (merge keeps the bounds).

    Replay order within a batch is the total (ts, event_id) order, with
    the whole key-batch buffered before sorting (the wave-122 lesson:
    per-chunk sorting breaks the order when a shard spans Arrow chunks)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # r11 wall trim (VERDICT r10 item 3): 2 replay chunks instead of 4 —
    # the final sketch is a pure function of the global (ts, event_id)
    # processing order, which the ts-split chunks preserve at ANY batch
    # count, so fewer micro-batches change nothing but the per-batch
    # state-store commit overhead (cross-batch state is still exercised).
    s = runtime.events_stream(spark, sf_dir, n_files=2).select(
        # modulo sharding (not xxhash64) so the shard key is cross-engine
        # deterministic and the DuckDB replay twin can reproduce it; a
        # production deployment would hash (any key-uniform map keeps the
        # sketch guarantees — the bound is per-shard row count, not key mix)
        F.pmod(F.col("user_id"), F.lit(_SS_SHARDS)).alias("shard"),
        "ts",
        "event_id",
        "user_id",
    )

    def update(key, pdf_iter, state: GroupState):
        (shard,) = key
        if state.exists:
            keys, counts, errs, n_seen = state.get
            keys, counts, errs = list(keys), list(counts), list(errs)
        else:
            keys, counts, errs, n_seen = [], [], [], 0
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            pos = {k: i for i, k in enumerate(keys)}
            for u in pdf["user_id"]:
                u = int(u)
                n_seen += 1
                i = pos.get(u)
                if i is not None:
                    counts[i] += 1
                elif len(keys) < _SS_CAP:
                    pos[u] = len(keys)
                    keys.append(u)
                    counts.append(1)
                    errs.append(0)
                else:
                    # evict the minimum-count counter (ties: lowest index,
                    # deterministic), inherit its count as the error bound
                    j = min(range(len(counts)), key=lambda x: counts[x])
                    del pos[keys[j]]
                    pos[u] = j
                    errs[j] = counts[j]
                    counts[j] += 1
                    keys[j] = u
        state.update((keys, counts, errs, n_seen))
        if chunks:  # no data -> no emission (avoids duplicate snapshots)
            yield pd.DataFrame(
                {
                    "shard": [int(shard)] * len(keys),
                    "user_id": keys,
                    "est_count": counts,
                    "err_bound": errs,
                    "shard_events": [n_seen] * len(keys),
                }
            )

    out = s.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=(
            "shard long, user_id long, est_count long, err_bound long, "
            "shard_events long"
        ),
        stateStructType=(
            "keys array<long>, counts array<long>, errs array<long>, "
            "n_seen long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = runtime.run_to_memory(out, "update", state_partitions=4)
    # keep only each shard's FINAL sketch snapshot (max shard_events per
    # shard — n_seen strictly grows on every data-carrying batch, and
    # empty batches emit nothing); the update-mode memory sink keeps every
    # emission, and keeping anything older would resurrect evicted users
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard")
    return (
        mem.withColumn("mx", F.max("shard_events").over(w))
        .where(F.col("shard_events") == F.col("mx"))
        .drop("mx")
    )
