"""Wave-153: TextRank keyword extraction and the HMM forward algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_TR_ITERS = 4
_TR_D_MILLI = 850  # damping 0.85


def _textrank_oracle() -> str:
    ctes = [
        """t AS MATERIALIZED (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents
    )""",
        """bg AS MATERIALIZED (
        SELECT ARRAY_TO_STRING(toks[p:p], '') AS a,
               ARRAY_TO_STRING(toks[p+1:p+1], '') AS b
        FROM (SELECT toks, UNNEST(RANGE(1, n)) AS p FROM t)
    )""",
        """e AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM bg
            WHERE a <> b)
        GROUP BY a, b
    )""",
        "sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e)",
        """deg AS MATERIALIZED (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
    )""",
        """nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)""",
        """r0 AS MATERIALIZED (SELECT u, CAST(1000000 AS BIGINT) AS r FROM deg)""",
    ]
    prev = "r0"
    for it in range(1, _TR_ITERS + 1):
        ctes.append(
            f"""r{it} AS MATERIALIZED (
        SELECT d.u,
               CAST(1000000 - {_TR_D_MILLI} * 1000
                    + CAST(ROUND({_TR_D_MILLI} / 1000e0 * COALESCE(s.acc, 0))
                      AS BIGINT) AS BIGINT) AS r
        FROM deg d
        LEFT JOIN (
            SELECT sym.v AS u, SUM(p.r * 1e0 / pd.d) AS acc
            FROM sym
            JOIN {prev} p ON p.u = sym.u
            JOIN deg pd ON pd.u = sym.u
            GROUP BY sym.v
        ) s ON s.u = d.u
    )"""
        )
        prev = f"r{it}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT u AS keyword, r AS rank_micro, rk FROM (
        SELECT u, r, ROW_NUMBER() OVER (ORDER BY r DESC, u) AS rk
        FROM {prev}) t
    WHERE rk <= 10"""
    )


@query("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004, public):
    adjacent-token co-occurrence builds an undirected word graph over
    the corpus; 4 unrolled PageRank iterations with damping 0.85 score
    the vocabulary; top-10 keywords emitted. Scores are micro-ints with
    one rounded accumulation per node per iteration (the graph_pagerank
    discipline on a TEXT graph).

    Sum-order note: the per-node neighbor accumulation Σ r_u/deg_u sums
    a handful of doubles whose addition order Spark and DuckDB may pick
    differently; values are exact-dyadic-safe at this scale and the
    per-iteration micro rounding absorbs ulp noise (same reasoning as
    the repo's float-sum precedents).

    Scale shape: edge build is one adjacent-pair projection + distinct;
    each iteration is a degree-normalized message aggregation — the
    textbook distributed PageRank step, localCheckpoint-truncated."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("toks"))
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "p -> struct(element_at(toks, p) as a, element_at(toks, p + 1) as b))"
            )
        ).alias("pr")
    ).select("pr.a", "pr.b")
    e = (
        bg.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("d")).localCheckpoint(
        eager=True
    )
    r = deg.select("u", F.lit(1000000).cast("long").alias("r")).localCheckpoint(
        eager=True
    )
    dmul = _TR_D_MILLI / 1000e0
    for _ in range(_TR_ITERS):
        msgs = (
            sym.join(r.select(F.col("u").alias("pu"), "r"), F.col("pu") == sym.u)
            .join(deg.select(F.col("u").alias("du"), "d"), F.col("du") == sym.u)
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum(F.col("r") * F.lit(1.0) / F.col("d")).alias("acc"))
        )
        r = (
            deg.join(msgs, "u", "left")
            .select(
                "u",
                (
                    F.lit(1000000 - _TR_D_MILLI * 1000)
                    + F.round(dmul * F.coalesce(F.col("acc"), F.lit(0.0))).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    wr = Window.orderBy(F.col("r").desc(), "u")
    return (
        r.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 10)
        .select(F.col("u").alias("keyword"), F.col("r").alias("rank_micro"), "rk")
    )


# 2-state HMM: calm/busy days. Literal micro-probabilities.
_HMM_T = ((900_000, 100_000), (200_000, 800_000))  # transition rows
_HMM_E = ((700_000, 300_000), (250_000, 750_000))  # emission P(obs | state)
_HMM_PI = (500_000, 500_000)


@query(
    "model_hmm_forward",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    med AS (
        SELECT x AS m FROM (
            SELECT x, ROW_NUMBER() OVER (ORDER BY x, day) AS rn,
                   COUNT(*) OVER () AS n FROM daily) t
        WHERE rn = (n + 1) // 2
    ),
    obs AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
               CASE WHEN x > (SELECT m FROM med) THEN 1 ELSE 0 END AS o
        FROM daily
    ),
    sim AS (
        SELECT t, o,
               CAST(ROUND({_HMM_PI[0]} * 1e0
                    * (CASE WHEN o = 0 THEN {_HMM_E[0][0]}
                       ELSE {_HMM_E[0][1]} END) / 1000000) AS BIGINT) AS a0,
               CAST(ROUND({_HMM_PI[1]} * 1e0
                    * (CASE WHEN o = 0 THEN {_HMM_E[1][0]}
                       ELSE {_HMM_E[1][1]} END) / 1000000) AS BIGINT) AS a1,
               CAST(0 AS BIGINT) AS norm_shifts
        FROM obs WHERE t = 1
        UNION ALL
        SELECT q.t, q.o,
               CAST(ROUND(
                   (CASE WHEN p.a0 + p.a1 < 1000 THEN p.a0 * 1000 ELSE p.a0 END
                    * {_HMM_T[0][0]} * 1e0
                    + CASE WHEN p.a0 + p.a1 < 1000 THEN p.a1 * 1000 ELSE p.a1 END
                    * {_HMM_T[1][0]}) / 1000000
                   * (CASE WHEN q.o = 0 THEN {_HMM_E[0][0]}
                      ELSE {_HMM_E[0][1]} END) / 1000000) AS BIGINT) AS a0,
               CAST(ROUND(
                   (CASE WHEN p.a0 + p.a1 < 1000 THEN p.a0 * 1000 ELSE p.a0 END
                    * {_HMM_T[0][1]} * 1e0
                    + CASE WHEN p.a0 + p.a1 < 1000 THEN p.a1 * 1000 ELSE p.a1 END
                    * {_HMM_T[1][1]}) / 1000000
                   * (CASE WHEN q.o = 0 THEN {_HMM_E[1][0]}
                      ELSE {_HMM_E[1][1]} END) / 1000000) AS BIGINT) AS a1,
               p.norm_shifts
               + CASE WHEN p.a0 + p.a1 < 1000 THEN 1 ELSE 0 END AS norm_shifts
        FROM sim p JOIN obs q ON q.t = p.t + 1
    ),
    fin AS (SELECT * FROM sim WHERE t = (SELECT MAX(t) FROM obs))
    SELECT CAST((SELECT MAX(t) FROM obs) AS BIGINT) AS n_obs,
           a0 AS alpha_calm_micro, a1 AS alpha_busy_micro,
           norm_shifts,
           ROUND(a1 * 1e0 / (a0 + a1), 6) AS p_busy_final
    FROM fin
    """,
)
def model_hmm_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM forward algorithm (Baum & Petrie 1966; Rabiner's tutorial
    1989, public) over the median-binarized daily series: two latent
    regimes (calm/busy) with literal micro-integer transition and
    emission tables; the forward variables α_t(s) fold with per-step
    micro rounding plus a ×1000 RESCALE whenever they shrink below 1000
    micro (the standard scaled-forward trick, counted in norm_shifts —
    without it α underflows, with it the filtered posterior
    P(busy | obs_1..t) is preserved exactly). Output: the final forward
    pair, the rescale count, and the filtered busy probability.

    Determinism: every step is ROUND over exact-integer products,
    replayed by the recursive-CTE oracle step for step.

    Scale shape: global daily series (depth ≈ days); per-key HMMs shard
    like the Kalman/rate-limit folds."""
    import math

    import pandas as pd

    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    rows = sorted((r["day"], r["x"]) for r in daily.collect())
    xs = [x for _, x in rows]
    svals = sorted(
        (x, d) for d, x in rows
    )
    med = svals[(len(svals) + 1) // 2 - 1][0]
    obs = [1 if x > med else 0 for x in xs]

    def rha(v: float) -> int:
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    a0 = rha(_HMM_PI[0] * 1e0 * (_HMM_E[0][0] if obs[0] == 0 else _HMM_E[0][1]) / 1e6)
    a1 = rha(_HMM_PI[1] * 1e0 * (_HMM_E[1][0] if obs[0] == 0 else _HMM_E[1][1]) / 1e6)
    shifts = 0
    for o in obs[1:]:
        if a0 + a1 < 1000:
            a0, a1, shifts = a0 * 1000, a1 * 1000, shifts + 1
        e0 = _HMM_E[0][0] if o == 0 else _HMM_E[0][1]
        e1 = _HMM_E[1][0] if o == 0 else _HMM_E[1][1]
        na0 = rha((a0 * _HMM_T[0][0] * 1e0 + a1 * _HMM_T[1][0]) / 1e6 * e0 / 1e6)
        na1 = rha((a0 * _HMM_T[0][1] * 1e0 + a1 * _HMM_T[1][1]) / 1e6 * e1 / 1e6)
        a0, a1 = na0, na1
    # the daily frame is metadata-sized; the fold is the driver-side twin
    # of the per-key distributed shape (see events_kalman_local_level)
    return daily.sparkSession.createDataFrame(
        [
            (
                len(obs),
                a0,
                a1,
                shifts,
                round(a1 / (a0 + a1), 6),
            )
        ],
        "n_obs long, alpha_calm_micro long, alpha_busy_micro long, "
        "norm_shifts long, p_busy_final double",
    )
