"""Wave-220: paired t-test on weekday-matched week pairs, and the
Nemenyi critical-difference post-hoc after Friedman.

The paired t is the one classical location test still missing (Welch,
Mann-Whitney, Wilcoxon signed-rank, Mood are registered): pairing
week-2 vs week-1 spend BY WEEKDAY removes the day-of-week variance the
unpaired tests eat as noise. Nemenyi answers the question Friedman and
Quade leave open — WHICH treatments differ — via the studentized-range
critical difference on mean ranks (Demsar's classifier-comparison
standard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
_K = 4  # six-hour bins
_Q05_K4 = 3.63316  # studentized range q_0.05 for k=4, inf df (Nemenyi)


@query(
    "agg_paired_ttest",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT a.d AS d1, a.y AS y1, b.y AS y2, b.y - a.y AS diff
        FROM daily a JOIN daily b ON b.d = a.d + 7
        WHERE a.d < 7
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(diff) AS BIGINT) AS s,
               CAST(SUM(CAST(diff AS HUGEINT) * diff) AS HUGEINT) AS s2
        FROM pairs
    )
    SELECT n AS n_pairs,
           ROUND(s / CAST(n AS DOUBLE), 6) AS mean_diff,
           ROUND(SQRT(CAST(n * s2 - CAST(s AS HUGEINT) * s AS DOUBLE)
                      / (CAST(n AS HUGEINT) * (n - 1))), 6) AS sd_diff,
           ROUND((s / CAST(n AS DOUBLE))
                 / (SQRT(CAST(n * s2 - CAST(s AS HUGEINT) * s AS DOUBLE)
                         / (CAST(n AS HUGEINT) * (n - 1)))
                    / SQRT(CAST(n AS DOUBLE))), 6) AS t_stat
    FROM mom
    """,
)
def agg_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test of week 2 vs week 1 daily spend, matched BY
    WEEKDAY (day d paired with day d+7): t = mean(diff) /
    (sd(diff)/sqrt(n)). Pairing removes the weekday effect entirely —
    the same data fed to Welch's unpaired test buries a real weekly
    shift under day-of-week variance. The classical complement to the
    registered Wilcoxon signed-rank (its nonparametric twin).

    Determinism: differences are exact integers; mean/sd come from
    exact moments; two correctly-rounded sqrt's.

    Scale shape: per-day collapse, a 7-row pair join, constant
    arithmetic."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    nxt = daily.select((F.col("d") - 7).alias("d"), F.col("y").alias("y2"))
    pairs = (
        daily.join(nxt, "d")
        .where(F.col("d") < 7)
        .select((F.col("y2") - F.col("y")).alias("diff"))
    )
    mom = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("diff").cast("long").alias("s"),
        F.sum(F.col("diff").cast(_DEC) * F.col("diff")).alias("s2"),
    )
    sd = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s").cast(_DEC) * F.col("s")).cast(
            "double"
        )
        / (F.col("n").cast(_DEC) * (F.col("n") - 1)).cast("double")
    )
    mean = F.col("s") / F.col("n").cast("double")
    return mom.select(
        F.col("n").alias("n_pairs"),
        F.round(mean, 6).alias("mean_diff"),
        F.round(sd, 6).alias("sd_diff"),
        F.round(mean / (sd / F.sqrt(F.col("n").cast("double"))), 6).alias(
            "t_stat"
        ),
    )


@query(
    "model_nemenyi_posthoc",
    oracle=f"""
    WITH grid AS (
        SELECT d.day, t.bin
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d,
             UNNEST(GENERATE_SERIES(0, {_K - 1})) AS t(bin)
    ),
    cells AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(HOUR(ts) // 6 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT g.day, g.bin, COALESCE(c.c, 0) AS c
        FROM grid g LEFT JOIN cells c
          ON c.day = g.day AND c.bin = g.bin
    ),
    ranked AS (
        SELECT day, bin,
               2 * COUNT(*) OVER (PARTITION BY day ORDER BY c
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 + COUNT(*) OVER (PARTITION BY day ORDER BY c
                     RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
                 + 1 AS r2
        FROM dense
    ),
    means AS (
        SELECT bin, CAST(SUM(r2) AS BIGINT) AS sr2,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ranked GROUP BY bin
    )
    SELECT a.bin AS bin_i, b.bin AS bin_j,
           ROUND(a.sr2 / (2.0e0 * a.n), 6) AS mean_rank_i,
           ROUND(b.sr2 / (2.0e0 * b.n), 6) AS mean_rank_j,
           ROUND(ABS(a.sr2 - b.sr2) / (2.0e0 * a.n), 6) AS rank_diff,
           ROUND({_Q05_K4} / SQRT(2.0e0)
                 * SQRT({_K} * ({_K} + 1) / (6.0e0 * a.n)), 6)
               AS critical_diff,
           ABS(a.sr2 - b.sr2) / (2.0e0 * a.n)
               > {_Q05_K4} / SQRT(2.0e0)
                 * SQRT({_K} * ({_K} + 1) / (6.0e0 * a.n))
               AS significant
    FROM means a JOIN means b ON a.bin < b.bin
    ORDER BY bin_i, bin_j
    """,
)
def model_nemenyi_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nemenyi post-hoc after Friedman on the day x six-hour-bin counts:
    every treatment pair is significantly different iff its mean-rank
    gap exceeds CD = q_alpha/sqrt(2) * sqrt(k(k+1)/(6n)). Friedman and
    Quade (registered) only say "SOMETHING differs"; this is the
    Demsar-standard answer to WHICH bins differ, with the exact rank
    sums published so the decision is auditable.

    Determinism: doubled mid-ranks are exact integers; mean ranks and
    the shared CD are single double expressions; the significance flag
    compares identical doubles.

    Scale shape: same per-day collapse + 4-row day windows as
    agg_page_trend; the pair frame is k(k-1)/2 = 6 rows."""
    events = table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.to_date("ts").alias("day"),
        (F.hour("ts") / 6).cast("long").alias("bin"),
    ).agg(F.count("*").cast("long").alias("c"))
    days = events.select(F.to_date("ts").alias("day")).distinct()
    grid = days.crossJoin(
        F.broadcast(
            spark.range(_K).select(F.col("id").cast("long").alias("bin"))
        )
    )
    dense = grid.join(cells, ["day", "bin"], "left").fillna(0, ["c"])
    byc = Window.partitionBy("day").orderBy("c")
    ranked = dense.withColumn(
        "r2",
        2 * F.count("*").over(byc.rangeBetween(Window.unboundedPreceding, -1))
        + F.count("*").over(byc.rangeBetween(0, 0))
        + 1,
    )
    means = ranked.groupBy("bin").agg(
        F.sum("r2").cast("long").alias("sr2"),
        F.count("*").cast("long").alias("n"),
    )
    a = means.select(
        F.col("bin").alias("bin_i"),
        F.col("sr2").alias("sra"),
        F.col("n").alias("n"),
    )
    b = means.select(
        F.col("bin").alias("bin_j"), F.col("sr2").alias("srb")
    )
    import math

    qf = _Q05_K4 / math.sqrt(2.0)
    pairs = a.join(b, F.col("bin_i") < F.col("bin_j"))
    cd = F.lit(qf) * F.sqrt(
        F.lit(float(_K)) * (_K + 1) / (F.lit(6.0) * F.col("n"))
    )
    diff = F.abs(F.col("sra") - F.col("srb")) / (F.lit(2.0) * F.col("n"))
    return pairs.select(
        "bin_i",
        "bin_j",
        F.round(F.col("sra") / (F.lit(2.0) * F.col("n")), 6).alias(
            "mean_rank_i"
        ),
        F.round(F.col("srb") / (F.lit(2.0) * F.col("n")), 6).alias(
            "mean_rank_j"
        ),
        F.round(diff, 6).alias("rank_diff"),
        F.round(cd, 6).alias("critical_diff"),
        (diff > cd).alias("significant"),
    ).orderBy("bin_i", "bin_j")
