"""Wave-388: STREAMING Bayesian online changepoint detection — the
wave-384 integer BOCPD recursion carried across micro-batches in explicit
GroupState (Adams & MacKay 2007; applyInPandasWithState).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.streaming import runtime

_R = 12
_MICRO = 1_000_000
_BATCHES = 4


def write_replay_files_by_day(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Split events into ``n_files`` chunks of WHOLE days (day-rank blocks
    ((rank-1)*n) div D) — day boundaries never straddle a micro-batch, so
    a per-day recursion stepped inside each batch sees only complete days
    and its emissions are batch-count-invariant. Memoized like the other
    replay authors."""
    import os
    import time as _t

    key = (sf_dir, n_files, "day")
    if key in runtime._replay_cache:
        return runtime._replay_cache[key]
    out = scratch_dir("events_replay_day_")
    e = table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    days = (
        e.select(F.col("ts").cast("date").alias("day"))
        .distinct()
        .select(
            "day",
            (F.row_number().over(Window.orderBy("day")) - 1).alias("rk"),
        )
    )
    nd = days.agg(F.count("*").alias("d"))
    chunked = (
        e.withColumn("day", F.col("ts").cast("date"))
        .join(F.broadcast(days), "day")
        .crossJoin(F.broadcast(nd))
        .withColumn("_chunk", F.expr(f"(rk * {n_files}) div d"))
    )
    now = _t.time()
    for i in range(n_files):
        path_dir = scratch_dir(f"dchunk{i}_")
        chunked.where(F.col("_chunk") == i).drop("day", "rk", "d", "_chunk").coalesce(
            1
        ).write.mode("overwrite").parquet(path_dir)
        part = next(p for p in os.listdir(path_dir) if p.endswith(".parquet"))
        dst = os.path.join(out, f"part-{i:04d}.parquet")
        os.rename(os.path.join(path_dir, part), dst)
        os.utime(dst, (now + i, now + i))
    runtime._replay_cache[key] = out
    return out


@query(
    "stream_bocpd_online",
    # Batch twin: the day stream collapses to daily counts; the ONLINE
    # indicator is x_t = [c_t * t > S_t] (strictly above the running mean
    # INCLUDING today — computable without future knowledge, and in SQL as
    # a cumulative-sum window over the bounded daily frame); then the
    # wave-384 integer recursion replays verbatim. Day-block batching
    # cannot change any emission: every day is processed exactly once, in
    # order, with complete counts.
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    run AS (
        SELECT day, c,
               ROW_NUMBER() OVER (ORDER BY day) AS t,
               SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s
        FROM daily
    ),
    xs AS (
        SELECT day,
               CASE WHEN c * t > s THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS x
        FROM run
    ),
    arr AS (
        SELECT LIST(day ORDER BY day) AS days,
               LIST(x ORDER BY day) AS obs,
               CAST(COUNT(*) AS BIGINT) AS t FROM xs
    ),
    sim AS (
        SELECT CAST(0 AS BIGINT) AS step,
               [CAST({_MICRO} AS BIGINT)] AS w,
               [CAST(0 AS BIGINT)] AS pre,
               CAST(NULL AS DATE) AS day,
               CAST(NULL AS BIGINT) AS x_out,
               CAST(NULL AS BIGINT) AS map_r,
               CAST(NULL AS BIGINT) AS cp_micro
        FROM arr
        UNION ALL
        SELECT step + 1,
               neww,
               list_append(pre, pre[len(pre)] + x),
               d,
               x,
               CAST(list_position(neww, list_max(neww)) - 1 AS BIGINT),
               neww[1]
        FROM (
            SELECT step, pre, x, d,
                   list_transform(raw, y ->
                       (y * CAST({_MICRO} AS BIGINT)) // tot_raw) AS neww
            FROM (
                SELECT step, pre, x, d, raw,
                       CAST(list_sum(raw) AS BIGINT) AS tot_raw
                FROM (
                    SELECT step, pre, x, d,
                           list_prepend(
                             CAST(list_sum(list_transform(trip, p ->
                               (struct_extract(p, 'wi') * struct_extract(p, 'num'))
                                 // ((2 + struct_extract(p, 'r')) * 8)))
                               AS BIGINT),
                             list_transform(trip, p ->
                               (struct_extract(p, 'wi') * struct_extract(p, 'num') * 7)
                                 // ((2 + struct_extract(p, 'r')) * 8))[1:{_R}]
                           ) AS raw
                    FROM (
                        SELECT s.step, s.pre,
                               a.obs[s.step + 1] AS x,
                               a.days[s.step + 1] AS d,
                               list_transform(s.w, (wi, i) -> STRUCT_PACK(
                                 wi := wi,
                                 r := CAST(i - 1 AS BIGINT),
                                 num := CASE WHEN a.obs[s.step + 1] = 1
                                   THEN 1 + (s.pre[len(s.pre)]
                                             - s.pre[len(s.pre) - (i - 1)])
                                   ELSE 1 + (i - 1)
                                        - (s.pre[len(s.pre)]
                                           - s.pre[len(s.pre) - (i - 1)])
                                 END)) AS trip
                        FROM sim s, arr a
                        WHERE s.step < a.t
                    )
                )
            )
        )
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           x_out AS x,
           map_r AS map_runlength,
           ROUND(cp_micro / {_MICRO}.0, 6) AS cp_prob
    FROM sim WHERE step >= 1
    """,
)
def stream_bocpd_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING BOCPD: the wave-384 exact-integer run-length recursion
    as a real applyInPandasWithState operator — the posterior (weight
    array + prefix-ones + running totals) lives in explicit GroupState
    and evolves ACROSS micro-batches of a whole-day-block replay. Each
    batch aggregates its complete days, steps the recursion once per day
    (x_t = count strictly above the running mean incl. today — an ONLINE
    indicator, no future knowledge), and emits that batch's per-day MAP
    run length + changepoint probability. Hash-exact against the batch
    recursive-CTE twin, so the cross-batch state evolution — not just
    final rows — is oracle-verified.

    Determinism: identical integer arithmetic to wave384 (floor
    divisions of non-negative integers only); day-block batching makes
    emissions batch-count-invariant by construction.

    Scale shape: state is O(R) integers per key; this replay keys the
    whole series to one monitor key (one task), exactly how a production
    deployment would key per-tenant/per-metric to fan the monitors out
    across the cluster — the shuffle is on the monitor key, and each
    key's work is O(days · R)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = write_replay_files_by_day(spark, sf_dir, _BATCHES)
    schema = table(spark, sf_dir, "events").schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(F.lit(0).alias("monitor"), F.col("ts").cast("date").alias("day"))
    )

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            w, pre, t, s_run = state.get
            w, pre = list(w), list(pre)
        else:
            w, pre, t, s_run = [_MICRO], [0], 0, 0
        chunks = list(pdf_iter)
        if not chunks:
            state.update((w, pre, t, s_run))
            return
        pdf = pd.concat(chunks, ignore_index=True)
        counts = pdf.groupby("day").size().sort_index()
        out_rows = []
        for day, c in counts.items():
            t += 1
            s_run += int(c)
            x = 1 if int(c) * t > s_run else 0
            nums = []
            tt = len(pre) - 1
            for r in range(len(w)):
                ones = pre[tt] - pre[tt - r]
                nums.append(1 + ones if x == 1 else 1 + r - ones)
            growth = [
                (w[r] * nums[r] * 7) // ((2 + r) * 8) for r in range(len(w))
            ]
            cp0 = sum((w[r] * nums[r]) // ((2 + r) * 8) for r in range(len(w)))
            raw = [cp0] + growth[:_R]
            tot = sum(raw)
            w = [(y * _MICRO) // tot for y in raw]
            pre.append(pre[-1] + x)
            out_rows.append(
                {
                    "day": day.isoformat() if hasattr(day, "isoformat") else str(day),
                    "x": x,
                    "map_runlength": w.index(max(w)),
                    "cp_micro": w[0],
                }
            )
        state.update((w, pre, t, s_run))
        yield pd.DataFrame(out_rows)

    out = s.groupBy("monitor").applyInPandasWithState(
        update,
        outputStructType="day string, x long, map_runlength long, cp_micro long",
        stateStructType=(
            "w array<long>, pre array<long>, t long, s_run long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = runtime.run_to_memory(out, "append", state_partitions=4)
    return mem.select(
        "day",
        "x",
        "map_runlength",
        F.round(F.col("cp_micro") / float(_MICRO), 6).alias("cp_prob"),
    )
