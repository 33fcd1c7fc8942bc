"""Wave-150: the two remaining Python-boundary APIs — cogrouped
applyInPandas and grouped applyInArrow.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "udf_cogroup_pandas",
    oracle="""
    WITH clicks AS (
        SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms
        FROM events WHERE event_type = 'click'
    ),
    buys AS (
        SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms, event_id
        FROM events WHERE event_type = 'purchase'
    ),
    flagged AS (
        SELECT b.user_id, b.event_id,
               CASE WHEN EXISTS (
                   SELECT 1 FROM clicks c
                   WHERE c.user_id = b.user_id
                     AND c.ms <= b.ms AND b.ms - c.ms <= 3600000
               ) THEN 1 ELSE 0 END AS assisted
        FROM buys b
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(assisted) AS BIGINT) AS click_assisted
    FROM flagged GROUP BY user_id
    """,
)
def udf_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the LAST grouped Python-boundary API in
    the matrix (pandas_udf → applyInPandas → mapInPandas → mapInArrow →
    COGROUP): clicks and purchases are grouped by user INDEPENDENTLY and
    the pair of per-user frames arrives in one Python call, here
    computing click-assisted purchases (a purchase within 1h after any
    click) with a per-user merge — the two-sided stateful logic
    (enrich stream A with stream B's history) that a single-input
    groupBy cannot express without a pre-join.

    Determinism: millisecond integers, sorted merges, exact counts; the
    oracle is the EXISTS as-of formulation of the same rule.

    Scale shape: ONE co-shuffle clusters both inputs by user; each
    side's per-user frame is bounded by that user's own events — the
    same skew bound as any keyed state."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_millis("ts").alias("ms")
    )
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ms")
    buys = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ms", "event_id"
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = clicks, right = purchases for ONE user (either may be empty)
        if right.empty:
            return pd.DataFrame(columns=["user_id", "n_purchases", "click_assisted"])
        cms = sorted(int(v) for v in left["ms"]) if not left.empty else []
        assisted = 0
        import bisect

        for bms in right["ms"]:
            bms = int(bms)
            i = bisect.bisect_right(cms, bms)
            if i > 0 and bms - cms[i - 1] <= 3600000:
                assisted += 1
        return pd.DataFrame(
            {
                "user_id": [int(right["user_id"].iloc[0])],
                "n_purchases": [len(right)],
                "click_assisted": [assisted],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(buys.groupBy("user_id"))
        .applyInPandas(merge, "user_id long, n_purchases long, click_assisted long")
    )


@query(
    "udf_group_apply_in_arrow",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT)
               AS v_milli,
           CAST(MAX(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT)
               AS max_milli
    FROM events GROUP BY event_type
    """,
)
def udf_group_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInArrow (Spark 4): the per-group Python boundary
    WITHOUT pandas — the function receives a pyarrow.Table per group and
    returns one, skipping the pandas conversion entirely (the fastest
    grouped-Python path for columnar math). Computes per-type exact
    milli aggregates so the SQL oracle certifies the Arrow round-trip
    bit-for-bit.

    Scale shape: one shuffle on the group key; per-group work is
    pyarrow compute kernels (C++), Python only orchestrates."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 1000).cast("long").alias("m")
    )

    def agg(t: pa.Table) -> pa.Table:
        m = t.column("m")
        return pa.table(
            {
                "event_type": [t.column("event_type")[0].as_py()],
                "n": [t.num_rows],
                "v_milli": [pc.sum(m).as_py()],
                "max_milli": [pc.max(m).as_py()],
            }
        )

    return e.groupBy("event_type").applyInArrow(
        agg, "event_type string, n long, v_milli long, max_milli long"
    )
