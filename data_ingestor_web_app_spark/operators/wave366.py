"""Wave-366: Plackett-Luce ranking model fit by Hunter's MM algorithm
(Plackett 1975; Luce 1959; Hunter, Annals of Statistics 2004), with the
entire 8-iteration fixed-point unrolled in EXACT INTEGER arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_T = 8  # unrolled MM iterations
_G0 = 200_000_000  # uniform start: 0.2 in nano units


def _pl_iter_sql(t: int) -> str:
    """One MM iteration as CTEs: g{t} -> g{t+1}. All integer:
    - denom per choice set: exact sum of nano worths;
    - 1/denom quantized by exact integer division 10^18 // denom;
    - gamma_raw = (W * 10^17) // D  (HUGEINT — W*10^17 can pass 2^63);
    - renormalized to nano: (gr * 10^9) // S."""
    return f"""
    den{t} AS (
        SELECT s.day, s.st, SUM(g.g_nano) AS dn
        FROM sets s JOIN g{t} g ON g.i = s.i
        GROUP BY s.day, s.st
    ),
    dd{t} AS (
        SELECT s.i,
               SUM(CAST(1000000000000000000 AS BIGINT) // d.dn) AS dq
        FROM sets s JOIN den{t} d ON d.day = s.day AND d.st = s.st
        GROUP BY s.i
    ),
    raw{t} AS (
        SELECT w.i,
               CAST((CAST(w.w AS HUGEINT)
                     * CAST(100000000000000000 AS HUGEINT)) // dd{t}.dq
                    AS BIGINT) AS gr
        FROM wins w JOIN dd{t} ON dd{t}.i = w.i
    ),
    g{t + 1} AS (
        -- window normalization, NOT a scalar subquery: a second reference
        -- to raw{t} would double the inlined lineage per iteration (2^T
        -- blowup, the NOTES_BUILD chained-frames pitfall) in BOTH engines
        SELECT i,
               -- GREATEST(..., 1) clamp (ADVICE r9): floor renormalization
               -- on highly skewed data can zero an entire choice set, making
               -- dn = 0 next round — DuckDB // would raise while Spark div
               -- yields NULL; the clamp keeps the fixed point total in both
               GREATEST((gr * CAST(1000000000 AS BIGINT))
                   // SUM(gr) OVER (), 1) AS g_nano
        FROM raw{t}
    )"""


@query(
    "model_plackett_luce",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    names AS (
        SELECT LIST(DISTINCT event_type ORDER BY event_type) AS nm
        FROM events
    ),
    pos AS (
        SELECT day,
               CAST(list_position((SELECT nm FROM names), event_type) - 1
                    AS BIGINT) AS i,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY cnt DESC, event_type) AS p,
               COUNT(*) OVER (PARTITION BY day) AS m
        FROM daily
    ),
    stages AS (SELECT CAST(range + 1 AS BIGINT) AS st FROM range(4)),
    sets AS (
        SELECT pos.day, stages.st, pos.i
        FROM pos JOIN stages ON pos.p >= stages.st AND stages.st < pos.m
    ),
    wins AS (
        SELECT i, CAST(SUM(CASE WHEN p < m THEN 1 ELSE 0 END) AS BIGINT)
                      AS w
        FROM pos GROUP BY i
    ),
    g0 AS (
        SELECT i, CAST({_G0} AS BIGINT) AS g_nano FROM wins
    ),
    {",".join(_pl_iter_sql(t) for t in range(_T))}
    SELECT n.nm[CAST(g.i + 1 AS INT)] AS event_type,
           w.w AS n_chosen,
           ROUND(g.g_nano / 1e9, 6) AS gamma
    FROM g{_T} g JOIN wins w ON w.i = g.i CROSS JOIN names n
    ORDER BY gamma DESC, event_type
    """,
)
def model_plackett_luce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plackett-Luce worth estimation by Hunter's MM algorithm (Annals
    of Statistics 2004) — the canonical ranking-model fit behind
    TrueSkill-style leaderboards and RLHF preference aggregation: each
    calendar day contributes one complete ranking of the 5 event types
    (by activity count, name tie-break), decomposed into its sequential
    choice sets; the MM update γ_i ← W_i / Σ_sets∋i (Σ_k∈set γ_k)⁻¹ runs
    8 unrolled iterations from the uniform start.

    Determinism (the novel part): the entire fixed point is EXACT
    INTEGER arithmetic — worths live in nano units, choice-set
    denominators are integer sums, reciprocals quantize by integer
    division 10¹⁸ // denom, the MM ratio is (W·10¹⁷) // D in 128-bit
    (HUGEINT / decimal(38,0)), and renormalization is (γ·10⁹) // S — so
    both engines agree bit-for-bit with NO float in the loop (the
    silhouette idiom applied to an iterative algorithm; same family as
    the integer-micro-nat Viterbi, wave357).

    Scale shape: the corpus collapses to a (day × type) aggregate; the
    choice-set frame is calendar × 4 stages; each iteration is two
    grid-sized joins + two aggregates over ≤ ~420 rows with a 5-row
    broadcast worth table — constant work per iteration regardless of
    corpus size."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    names = e.agg(F.sort_array(F.collect_set("event_type")).alias("nm"))
    pos = daily.crossJoin(F.broadcast(names)).select(
        "day",
        (F.array_position(F.col("nm"), F.col("event_type")) - 1)
        .cast("long")
        .alias("i"),
        F.row_number()
        .over(
            Window.partitionBy("day").orderBy(F.col("cnt").desc(), "event_type")
        )
        .alias("p"),
        F.count("*").over(Window.partitionBy("day")).alias("m"),
    )
    stages = spark.range(4).select((F.col("id") + 1).alias("st"))
    sets = pos.join(
        F.broadcast(stages),
        (F.col("p") >= F.col("st")) & (F.col("st") < F.col("m")),
    ).select("day", "st", "i").localCheckpoint(eager=True)
    # ^ r11: materialized (wave124 idiom), not just cached — it is
    # referenced twice per MM iteration, and the cached-but-unchecked
    # lineage re-expanded its subtree in every iteration's logical plan
    # (~16 copies after 8 iterations): Catalyst analysis, not execution,
    # was the wall (6-9 s warm at sf0.01 for ~420-row frames).
    wins = pos.groupBy("i").agg(
        F.sum(F.when(F.col("p") < F.col("m"), 1).otherwise(0))
        .cast("long")
        .alias("w")
    ).localCheckpoint(eager=True)  # r11: same truncation as `sets`
    g = wins.select("i", F.lit(_G0).cast("long").alias("g_nano"))
    for _ in range(_T):
        den = (
            sets.join(F.broadcast(g), "i")
            .groupBy("day", "st")
            .agg(F.sum("g_nano").alias("dn"))
        )
        dq = (
            sets.join(den, ["day", "st"])
            .groupBy("i")
            .agg(
                F.sum(F.expr("1000000000000000000L div dn")).alias("dq")
            )
        )
        a = F.col("w").cast("decimal(38,0)") * F.lit(100000000000000000)
        raw = (
            wins.join(F.broadcast(dq), "i")
            .select(
                "i",
                # exact 128-bit floor division: (a - a mod b) / b is an
                # integral decimal, so the scale-6 quotient is exact
                ((a - a % F.col("dq")) / F.col("dq"))
                .cast("long")
                .alias("gr"),
            )
        )
        # window normalization keeps ONE reference to raw per iteration
        # (a crossJoin(agg(raw)) would reference it twice -> 2^T lineage);
        # greatest(..., 1) clamp mirrors the oracle (ADVICE r9): floor
        # renormalization must never zero a whole choice set (dn = 0 would
        # be DuckDB div-by-zero vs Spark silent NULL)
        g = raw.select(
            "i",
            F.expr(
                "greatest((gr * 1000000000L) div sum(gr) over (), 1L)"
            ).alias("g_nano"),
        ).localCheckpoint(eager=True)  # r11: constant-size plan per iteration
    return (
        g.join(F.broadcast(wins), "i")
        .crossJoin(F.broadcast(names))
        .select(
            F.element_at(F.col("nm"), (F.col("i") + 1).cast("int")).alias(
                "event_type"
            ),
            F.col("w").alias("n_chosen"),
            F.round(F.col("g_nano") / 1e9, 6).alias("gamma"),
        )
        .orderBy(F.col("gamma").desc(), "event_type")
    )
