"""Wave-357: Viterbi decoding (Viterbi, IEEE IT 1967; Forney's 1973
tutorial) of the same two-regime HMM as model_hmm_forward, in exact
integer max-plus (micro-nat log domain).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# same literal model as model_hmm_forward (wave153), moved to the log
# domain: micro-nat integers round(ln(p)*1e6), computed once here and
# embedded in both engines. Max-plus over integers never underflows, so
# Viterbi needs no rescale trick.
_T = ((900_000, 100_000), (200_000, 800_000))
_E = ((700_000, 300_000), (250_000, 750_000))
_PI = (500_000, 500_000)


def _lmicro(p_micro: int) -> int:
    return round(math.log(p_micro / 1e6) * 1e6)


_LT = tuple(tuple(_lmicro(p) for p in row) for row in _T)
_LE = tuple(tuple(_lmicro(p) for p in row) for row in _E)
_LPI = tuple(_lmicro(p) for p in _PI)


@query(
    "model_hmm_viterbi",
    oracle=f"""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    med AS MATERIALIZED (
        SELECT x AS m FROM (
            SELECT x, ROW_NUMBER() OVER (ORDER BY x, day) AS rn,
                   COUNT(*) OVER () AS n FROM daily) t
        WHERE rn = (n + 1) // 2
    ),
    -- r11: MATERIALIZED, because DuckDB inlines CTEs into recursive
    -- members — without it every one of the T recursion levels (and the
    -- backtrack's vit references) re-ran the events scan + windows,
    -- putting a 30-level recursion at ~45 s of pure oracle overhead
    obs AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
               STRFTIME(day, '%Y-%m-%d') AS d,
               CASE WHEN x > (SELECT m FROM med) THEN 1 ELSE 0 END AS o
        FROM daily
    ),
    vit AS (
        SELECT t, o,
               CAST({_LPI[0]} + CASE WHEN o = 0 THEN {_LE[0][0]}
                    ELSE {_LE[0][1]} END AS BIGINT) AS d0,
               CAST({_LPI[1]} + CASE WHEN o = 0 THEN {_LE[1][0]}
                    ELSE {_LE[1][1]} END AS BIGINT) AS d1,
               CAST(0 AS BIGINT) AS p0, CAST(0 AS BIGINT) AS p1
        FROM obs WHERE t = 1
        UNION ALL
        SELECT q.t, q.o,
               GREATEST(v.d0 + {_LT[0][0]}, v.d1 + {_LT[1][0]})
                 + CASE WHEN q.o = 0 THEN {_LE[0][0]}
                   ELSE {_LE[0][1]} END AS d0,
               GREATEST(v.d0 + {_LT[0][1]}, v.d1 + {_LT[1][1]})
                 + CASE WHEN q.o = 0 THEN {_LE[1][0]}
                   ELSE {_LE[1][1]} END AS d1,
               CASE WHEN v.d0 + {_LT[0][0]} >= v.d1 + {_LT[1][0]}
                    THEN 0 ELSE 1 END AS p0,
               CASE WHEN v.d0 + {_LT[0][1]} >= v.d1 + {_LT[1][1]}
                    THEN 0 ELSE 1 END AS p1
        FROM vit v JOIN obs q ON q.t = v.t + 1
    ),
    path AS (
        SELECT v.t, CASE WHEN v.d0 >= v.d1 THEN 0 ELSE 1 END AS st
        FROM vit v WHERE v.t = (SELECT MAX(t) FROM obs)
        UNION ALL
        SELECT v.t,
               CASE WHEN p.st = 0 THEN v2.p0 ELSE v2.p1 END AS st
        FROM path p
        JOIN vit v ON v.t = p.t - 1
        JOIN vit v2 ON v2.t = p.t
    )
    SELECT obs.t, obs.d, obs.o AS obs_high,
           vit.d0 AS delta_calm_lmicro, vit.d1 AS delta_busy_lmicro,
           CAST(path.st AS BIGINT) AS viterbi_state
    FROM obs
    JOIN vit ON vit.t = obs.t
    JOIN path ON path.t = obs.t
    ORDER BY obs.t
    """,
)
def model_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding (IEEE IT 1967) of the SAME two-regime HMM as
    model_hmm_forward (identical transition/emission/initial tables,
    identical median-binarized observations): the most-likely state
    PATH, not the filtered marginal. Scores live in integer micro-nats
    (round(ln p · 1e6) literals), so max-plus recursion is exact
    integer arithmetic with no underflow and no rescaling; ties in the
    argmax prefer the calm state (documented convention, identical in
    both engines). The oracle replays the forward pass AND the
    backtrack as recursive CTEs step for step.

    Determinism: observations use the same (count, day) median order
    as the forward row; all scores/argmaxes are exact integers.

    Scale shape: the daily frame is calendar-bounded metadata; the
    fold is the driver-side twin of the per-key distributed shape
    (see events_kalman_local_level) — per-entity HMMs shard by key."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    rows = sorted((r["day"], r["x"]) for r in daily.collect())
    svals = sorted((x, d) for d, x in rows)
    med = svals[(len(svals) + 1) // 2 - 1][0]
    obs = [(d, 1 if x > med else 0) for d, x in rows]
    # forward max-plus pass with argmax chips
    d0 = _LPI[0] + _LE[0][obs[0][1]]
    d1 = _LPI[1] + _LE[1][obs[0][1]]
    hist = [(d0, d1, 0, 0)]
    for _, o in obs[1:]:
        c00, c10 = d0 + _LT[0][0], d1 + _LT[1][0]
        c01, c11 = d0 + _LT[0][1], d1 + _LT[1][1]
        p0 = 0 if c00 >= c10 else 1
        p1 = 0 if c01 >= c11 else 1
        nd0 = max(c00, c10) + _LE[0][o]
        nd1 = max(c01, c11) + _LE[1][o]
        d0, d1 = nd0, nd1
        hist.append((d0, d1, p0, p1))
    # backtrack
    states = [0] * len(obs)
    states[-1] = 0 if hist[-1][0] >= hist[-1][1] else 1
    for t in range(len(obs) - 2, -1, -1):
        nxt = states[t + 1]
        states[t] = hist[t + 1][2] if nxt == 0 else hist[t + 1][3]
    out = [
        (
            t + 1,
            obs[t][0].isoformat(),
            obs[t][1],
            hist[t][0],
            hist[t][1],
            states[t],
        )
        for t in range(len(obs))
    ]
    return daily.sparkSession.createDataFrame(
        out,
        "t long, d string, obs_high int, delta_calm_lmicro long, "
        "delta_busy_lmicro long, viterbi_state long",
    )
