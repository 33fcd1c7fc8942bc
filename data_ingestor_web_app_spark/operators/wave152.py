"""Wave-152: integer-exact 1-D Kalman local-level filtering per user
series and a PID controller over the daily error signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_KAL_Q = 50_000  # process noise, micro units
_KAL_R = 400_000  # observation noise, micro units


@query(
    "events_kalman_local_level",
    oracle=f"""
    WITH RECURSIVE seq AS (
        SELECT event_type, user_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS y,
               ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    nper AS (
        SELECT event_type, user_id, CAST(MAX(rn) AS BIGINT) AS n
        FROM seq GROUP BY event_type, user_id HAVING MAX(rn) >= 2
    ),
    sim AS (
        SELECT s.event_type, s.user_id, s.rn,
               s.y AS m, CAST({_KAL_R} AS BIGINT) AS p,
               CAST(0 AS BIGINT) AS abs_innov
        FROM seq s JOIN nper USING (event_type, user_id)
        WHERE s.rn = 1
        UNION ALL
        SELECT q.event_type, q.user_id, q.rn,
               p.m + CAST(ROUND(
                   (CAST(ROUND(1000000.0 * (p.p + {_KAL_Q})
                        / (p.p + {_KAL_Q} + {_KAL_R})) AS BIGINT)
                    * (q.y - p.m)) / 1000000.0) AS BIGINT) AS m,
               CAST(ROUND((1000000 - CAST(ROUND(1000000.0 * (p.p + {_KAL_Q})
                        / (p.p + {_KAL_Q} + {_KAL_R})) AS BIGINT))
                    * (p.p + {_KAL_Q}) / 1000000.0) AS BIGINT) AS p,
               p.abs_innov + ABS(q.y - p.m) AS abs_innov
        FROM sim p
        JOIN seq q ON q.event_type = p.event_type
                  AND q.user_id = p.user_id AND q.rn = p.rn + 1
    ),
    fin AS (
        SELECT s.* FROM sim s JOIN nper n
          ON n.event_type = s.event_type AND n.user_id = s.user_id
         AND s.rn = n.n
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_series,
           CAST(SUM(m) AS BIGINT) AS level_sum_micro,
           CAST(SUM(p) AS BIGINT) AS var_sum_micro,
           CAST(SUM(abs_innov) AS BIGINT) AS innovation_l1_micro
    FROM fin GROUP BY event_type
    """,
)
def events_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter, local-level model (Kalman 1960, public): per
    (event type, user) series of micro-scaled values, the textbook
    predict/update recursion — p'=p+Q, K=p'/(p'+R), m+=K·innovation,
    p=(1−K)p' — with EVERY step rounded to integer micro units, so the
    whole filter runs in exact BIGINTs and the DuckDB recursive CTE
    replays it bit-for-bit (the events_rate_limit discipline applied to
    a real state-space model). Per-type summaries: final levels, final
    variances, and total absolute innovation (the filter's residual
    mass).

    Rounding note: quantizing the gain and variance each step is what
    fixed-point Kalman implementations on embedded targets do; the
    quantization error is bounded by 1 micro-unit per step and is part
    of the operator's defined semantics, identical in both engines.

    Scale shape: sequential per series, parallel across (type, user)
    groups; recursion depth = max per-user event count (tens), state is
    two scalars."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 1000000).cast("long").alias("y"),
    )
    # r11 (guide §2.3/§4.1, the events_burst_kleinberg pattern): assemble
    # each (type, user) series JVM-side — sort_array(collect_list) orders
    # by (ts, event_id) exactly like the pandas sort did — so ONE row per
    # series crosses the Python boundary via mapInPandas instead of every
    # event row through per-group pandas machinery. The int64 y sequence
    # and the fixed-point recursion are unchanged.
    seqs = (
        e.groupBy("event_type", "user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "y"))
            ).alias("seq")
        )
        .where(F.size("seq") >= 2)
        .select("event_type", F.expr("transform(seq, s -> s.y)").alias("ys"))
    )

    import math

    def rha(x: float) -> int:
        # SQL ROUND is half-away-from-zero; python round() is half-even
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    def fold_series(ys) -> tuple:
        ys = np.asarray(ys, dtype=np.int64)
        m, p = int(ys[0]), _KAL_R
        abs_innov = 0
        for y in ys[1:]:
            y = int(y)
            pp = p + _KAL_Q
            k = rha(1e6 * pp / (pp + _KAL_R))
            innov = y - m
            abs_innov += abs(innov)
            m = m + rha(k * innov / 1e6)
            p = rha((1000000 - k) * pp / 1e6)
        return m, p, abs_innov

    def fold_batches(batches):
        for pdf in batches:
            out = {"event_type": [], "m": [], "p": [], "abs_innov": []}
            for et, ys in zip(pdf["event_type"], pdf["ys"]):
                m, p, ai = fold_series(ys)
                out["event_type"].append(et)
                out["m"].append(m)
                out["p"].append(p)
                out["abs_innov"].append(ai)
            yield pd.DataFrame(out).astype(
                {"m": "int64", "p": "int64", "abs_innov": "int64"}
            )

    per = seqs.mapInPandas(
        fold_batches, "event_type string, m long, p long, abs_innov long"
    )
    return per.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_series"),
        F.sum("m").cast("long").alias("level_sum_micro"),
        F.sum("p").cast("long").alias("var_sum_micro"),
        F.sum("abs_innov").cast("long").alias("innovation_l1_micro"),
    )


_PID_KP = 500  # milli-gains
_PID_KI = 100
_PID_KD = 200
_PID_SETPOINT = 300  # target daily events


@query(
    "events_pid_controller",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    err AS (
        SELECT day, x, {_PID_SETPOINT} - x AS e,
               SUM({_PID_SETPOINT} - x) OVER (ORDER BY day) AS ie,
               {_PID_SETPOINT} - x
               - LAG({_PID_SETPOINT} - x) OVER (ORDER BY day) AS de
        FROM daily
    ),
    u AS (
        SELECT day, x, e,
               {_PID_KP} * e + {_PID_KI} * ie
               + {_PID_KD} * COALESCE(de, 0) AS u_milli
        FROM err
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ABS(e)) AS BIGINT) AS abs_error_sum,
           CAST(MAX(ABS(u_milli)) AS BIGINT) AS peak_control_milli,
           CAST(SUM(CASE WHEN u_milli > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS scale_up_days,
           CAST(SUM(u_milli) AS BIGINT) AS control_sum_milli
    FROM u
    """,
)
def events_pid_controller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PID control signal (Minorsky 1922, public) over the daily load
    error against a 300-events/day setpoint: u_t = Kp·e_t + Ki·Σe +
    Kd·Δe with milli-integer gains — the control law every autoscaler
    reimplements. Open-loop over the observed series, so P, I and D are
    a projection, a running sum and a lag — fully window-expressible,
    NO sequential fold (the feedback loop is the plant's job, not the
    calculator's).

    Determinism: pure integer arithmetic throughout.

    Scale shape: daily collapse, one ordered window pair, exact
    aggregates."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = Window.orderBy("day")
    e = _PID_SETPOINT - F.col("x")
    err = daily.select(
        "day",
        "x",
        e.alias("e"),
        F.sum(e).over(w).alias("ie"),
        (e - F.lag(e).over(w)).alias("de"),
    )
    u = err.select(
        "e",
        (
            _PID_KP * F.col("e")
            + _PID_KI * F.col("ie")
            + _PID_KD * F.coalesce(F.col("de"), F.lit(0))
        ).alias("u_milli"),
    )
    return u.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.abs("e")).cast("long").alias("abs_error_sum"),
        F.max(F.abs("u_milli")).cast("long").alias("peak_control_milli"),
        F.sum(F.when(F.col("u_milli") > 0, 1).otherwise(0))
        .cast("long")
        .alias("scale_up_days"),
        F.sum("u_milli").cast("long").alias("control_sum_milli"),
    )
