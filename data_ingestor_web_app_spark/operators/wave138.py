"""Wave-138: hash-derived permutation test, Western Electric control
rules, and greedy k-center seeding over embeddings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm.vector_common import dot as _dot, norm as _norm
from data_ingestor_web_app_spark.registry import query

_N_PERMS = 200


@query(
    "agg_permutation_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x,
               ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS rn,
               COUNT(*) OVER () AS d
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    obs AS (
        SELECT SUM(CASE WHEN rn <= d / 2 THEN x ELSE 0 END) AS sa,
               CAST(SUM(CASE WHEN rn <= d / 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(SUM(x) AS BIGINT) AS st,
               CAST(MAX(d) AS BIGINT) AS d
        FROM daily
    ),
    perms AS (
        SELECT b FROM (SELECT UNNEST(RANGE({_N_PERMS})) AS b)
    ),
    assign AS (
        SELECT p.b, dy.x,
               ROW_NUMBER() OVER (
                   PARTITION BY p.b
                   ORDER BY CAST(CONCAT('0x',
                       SUBSTR(MD5(CAST(p.b AS VARCHAR) || '|'
                                  || CAST(dy.rn AS VARCHAR)), 1, 8))
                       AS BIGINT), dy.rn) AS prank
        FROM perms p CROSS JOIN daily dy
    ),
    stats AS (
        SELECT a.b,
               CAST(SUM(CASE WHEN a.prank <= o.na THEN a.x ELSE 0 END)
                    AS BIGINT) AS sa_b
        FROM assign a CROSS JOIN obs o
        GROUP BY a.b
    )
    SELECT o.na AS n_a, o.d - o.na AS n_b,
           ROUND(o.sa * 1e0 / o.na
                 - (o.st - o.sa) * 1e0 / (o.d - o.na), 6) AS obs_diff,
           CAST(SUM(CASE WHEN ABS(s.sa_b * 1e0 / o.na
                                  - (o.st - s.sa_b) * 1e0 / (o.d - o.na))
                              >= ABS(o.sa * 1e0 / o.na
                                     - (o.st - o.sa) * 1e0 / (o.d - o.na))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           ROUND((SUM(CASE WHEN ABS(s.sa_b * 1e0 / o.na
                                    - (o.st - s.sa_b) * 1e0 / (o.d - o.na))
                                >= ABS(o.sa * 1e0 / o.na
                                       - (o.st - o.sa) * 1e0 / (o.d - o.na))
                           THEN 1 ELSE 0 END) + 1) * 1e0 / ({_N_PERMS} + 1), 6)
               AS p_value
    FROM stats s CROSS JOIN obs o
    GROUP BY o.na, o.d, o.sa, o.st
    """,
)
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test (Fisher 1935, public) for the first-half vs
    second-half daily-mean difference, with DERANDOMIZED permutations:
    permutation b ranks days by md5(b || day-index) — a hash-derived
    pseudo-shuffle both engines reproduce bit-for-bit — and reassigns
    the first n_A ranks to group A. p = (#extreme + 1)/(B + 1), the
    standard add-one estimator. Distribution-free significance for the
    same split the parametric battery (CvM, energy, Wasserstein) tests.

    Determinism: group sums per permutation are exact integers (ranks
    totally ordered by the 32-bit md5 key with an index tie-break);
    each mean difference is one double chain; the extreme-count compare
    uses identical chains on both sides.

    Scale shape: the B×d permutation grid is a broadcast fan-out over
    the tiny daily frame; per-permutation rank windows partition by b.
    The heavy stream is touched once."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
        .select(
            "x",
            F.row_number().over(Window.orderBy("day")).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("d"),
        )
    )
    obs = daily.agg(
        F.sum(F.when(F.col("rn") <= F.col("d") / 2, F.col("x")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("rn") <= F.col("d") / 2, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum("x").cast("long").alias("st"),
        F.max("d").cast("long").alias("d"),
    )
    perms = daily.sparkSession.range(_N_PERMS).select(F.col("id").alias("b"))
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("b").cast("string"), F.col("rn").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    wp = Window.partitionBy("b").orderBy(key, "rn")
    assign = F.broadcast(perms).crossJoin(daily).select(
        "b", "x", F.row_number().over(wp).alias("prank")
    )
    stats = (
        assign.crossJoin(F.broadcast(obs))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("prank") <= F.col("na"), F.col("x")).otherwise(0))
            .cast("long")
            .alias("sa_b")
        )
    )
    j = stats.crossJoin(F.broadcast(obs))
    diff_b = F.col("sa_b") * F.lit(1.0) / F.col("na") - (
        F.col("st") - F.col("sa_b")
    ) * F.lit(1.0) / (F.col("d") - F.col("na"))
    diff_o = F.col("sa") * F.lit(1.0) / F.col("na") - (
        F.col("st") - F.col("sa")
    ) * F.lit(1.0) / (F.col("d") - F.col("na"))
    extreme = F.sum(F.when(F.abs(diff_b) >= F.abs(diff_o), 1).otherwise(0))
    return j.groupBy("na", "d", "sa", "st").agg(
        F.round(F.max(diff_o), 6).alias("obs_diff"),
        extreme.cast("long").alias("n_extreme"),
        F.round((extreme + 1) * F.lit(1.0) / (_N_PERMS + 1), 6).alias("p_value"),
    ).select(
        F.col("na").alias("n_a"),
        (F.col("d") - F.col("na")).alias("n_b"),
        "obs_diff",
        "n_extreme",
        "p_value",
    )


@query(
    "events_spc_western_electric",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, day
    ),
    st AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(x * x) AS BIGINT) AS q
        FROM daily GROUP BY event_type
    ),
    z AS (
        SELECT d.event_type, d.day, d.x,
               (d.x - s.s * 1e0 / s.n)
               / SQRT((s.q - CAST(s.s AS DOUBLE) * s.s / s.n) / s.n) AS zv
        FROM daily d JOIN st s USING (event_type)
    ),
    r AS (
        SELECT event_type, day, x, zv,
               CASE WHEN ABS(zv) > 3 THEN 1 ELSE 0 END AS rule1,
               CASE WHEN SUM(CASE WHEN zv > 2 THEN 1 ELSE 0 END)
                         OVER w3 >= 2
                      OR SUM(CASE WHEN zv < -2 THEN 1 ELSE 0 END)
                         OVER w3 >= 2
                    THEN 1 ELSE 0 END AS rule2,
               CASE WHEN SUM(CASE WHEN zv > 1 THEN 1 ELSE 0 END)
                         OVER w5 >= 4
                      OR SUM(CASE WHEN zv < -1 THEN 1 ELSE 0 END)
                         OVER w5 >= 4
                    THEN 1 ELSE 0 END AS rule3,
               CASE WHEN SUM(CASE WHEN zv > 0 THEN 1 ELSE 0 END)
                         OVER w8 = 8
                      OR SUM(CASE WHEN zv < 0 THEN 1 ELSE 0 END)
                         OVER w8 = 8
                    THEN 1 ELSE 0 END AS rule4
        FROM z
        WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               w5 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w8 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(SUM(rule1) AS BIGINT) AS rule1_days,
           CAST(SUM(rule2) AS BIGINT) AS rule2_days,
           CAST(SUM(rule3) AS BIGINT) AS rule3_days,
           CAST(SUM(rule4) AS BIGINT) AS rule4_days,
           CAST(SUM(CASE WHEN rule1 + rule2 + rule3 + rule4 > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS any_signal_days
    FROM r GROUP BY event_type
    """,
)
def events_spc_western_electric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric control-chart rules (WE Handbook 1956, public)
    over each type's daily z-scores: rule 1 = a point beyond 3σ; rule 2
    = 2-of-3 beyond 2σ same side; rule 3 = 4-of-5 beyond 1σ same side;
    rule 4 = 8 in a row same side of center. The rule battery that
    catches small sustained shifts a lone 3σ limit misses — reported as
    per-type signal-day counts.

    Determinism: z-scores are one double chain from exact integer
    moments (population σ); every rule is integer window counting over
    those identical doubles.

    Scale shape: map-side daily collapse, broadcast per-type moments,
    three bounded ROWS windows per type."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    st = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    z = daily.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        (
            (F.col("x") - F.col("s") * F.lit(1.0) / F.col("n"))
            / F.sqrt(
                (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / F.col("n")
            )
        ).alias("zv"),
    )
    wbase = Window.partitionBy("event_type").orderBy("day")
    w3, w5, w8 = (wbase.rowsBetween(-k + 1, 0) for k in (3, 5, 8))

    def side_count(win, thr, side):
        cond = F.col("zv") > thr if side > 0 else F.col("zv") < -thr
        return F.sum(F.when(cond, 1).otherwise(0)).over(win)

    r = z.select(
        "event_type",
        F.when(F.abs("zv") > 3, 1).otherwise(0).alias("rule1"),
        F.when(
            (side_count(w3, 2, 1) >= 2) | (side_count(w3, 2, -1) >= 2), 1
        ).otherwise(0).alias("rule2"),
        F.when(
            (side_count(w5, 1, 1) >= 4) | (side_count(w5, 1, -1) >= 4), 1
        ).otherwise(0).alias("rule3"),
        F.when(
            (side_count(w8, 0, 1) == 8) | (side_count(w8, 0, -1) == 8), 1
        ).otherwise(0).alias("rule4"),
    )
    return r.groupBy("event_type").agg(
        F.sum("rule1").cast("long").alias("rule1_days"),
        F.sum("rule2").cast("long").alias("rule2_days"),
        F.sum("rule3").cast("long").alias("rule3_days"),
        F.sum("rule4").cast("long").alias("rule4_days"),
        F.sum(
            F.when(
                F.col("rule1") + F.col("rule2") + F.col("rule3") + F.col("rule4")
                > 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("any_signal_days"),
    )
