"""Wave-222: the Cressie-Read power-divergence family on one
contingency table — Pearson X^2, the G statistic, and Freeman-Tukey —
computed side by side.

Pearson (lambda=1), likelihood-ratio G (lambda->0) and Freeman-Tukey
(lambda=-1/2) are all members of one family; their DISAGREEMENT is the
classic small-cell diagnostic (they converge on healthy tables and
split when expected counts get thin). The three forms chosen here avoid
every non-correctly-rounded primitive: Pearson is exact rational
arithmetic, G uses ln on exact ratios (the registry's established
posture), Freeman-Tukey uses only sqrt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_power_divergence",
    oracle="""
    WITH cells AS (
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    marg AS (
        SELECT c.dow, c.event_type, c.o,
               r.rt * CAST(k.ct AS DOUBLE) / t.n AS e
        FROM cells c
        JOIN (SELECT dow, CAST(SUM(o) AS BIGINT) AS rt FROM cells
              GROUP BY dow) r ON r.dow = c.dow
        JOIN (SELECT event_type, CAST(SUM(o) AS BIGINT) AS ct FROM cells
              GROUP BY event_type) k ON k.event_type = c.event_type
        JOIN (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells) t ON TRUE
    ),
    stats AS (
        SELECT (SELECT CAST(SUM(o) AS BIGINT) FROM cells) AS n,
               (SELECT CAST(COUNT(DISTINCT dow) AS BIGINT) FROM cells)
                   AS r,
               (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
                FROM cells) AS c,
               LIST_REDUCE(LIST((o - e) * (o - e) / e
                                ORDER BY dow, event_type),
                           (x, y) -> x + y) AS pearson,
               2 * LIST_REDUCE(LIST(o * LN(o / e)
                                    ORDER BY dow, event_type),
                               (x, y) -> x + y) AS g_stat,
               4 * LIST_REDUCE(LIST((SQRT(CAST(o AS DOUBLE)) - SQRT(e))
                                    * (SQRT(CAST(o AS DOUBLE)) - SQRT(e))
                                    ORDER BY dow, event_type),
                               (x, y) -> x + y) AS freeman_tukey
        FROM marg
    )
    SELECT n, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(pearson, 6) AS pearson_x2,
           ROUND(g_stat, 6) AS g_stat,
           ROUND(freeman_tukey, 6) AS freeman_tukey
    FROM stats
    """,
)
def agg_power_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cressie-Read power-divergence triple on the day-of-week x
    event-type table: Pearson X^2 (lambda=1), the likelihood-ratio G
    (lambda->0), and Freeman-Tukey (lambda=-1/2), all against the same
    independence expectations. On a healthy table the three agree to
    the first decimal; divergence between them is the textbook flag for
    thin expected counts — one query gives the chi-square answer AND
    its own reliability check.

    Determinism: expected counts are exact integer-ratio doubles; the
    three folds run in the same (dow, type) order in both engines;
    Pearson is rational arithmetic, G composes ln on identical inputs,
    Freeman-Tukey uses only correctly-rounded sqrt.

    Scale shape: one contingency groupBy (<= 35 cells), constant-size
    folds after — and all three statistics are additive across table
    partitions for free."""
    events = table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.dayofweek(F.to_date("ts")).cast("long").alias("dow"),
        "event_type",
    ).agg(F.count("*").cast("long").alias("o"))
    rt = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    r = cells.agg(F.countDistinct("dow").cast("long").alias("r"))
    c = cells.agg(
        F.countDistinct("event_type").cast("long").alias("c")
    )
    marg = (
        cells.join(rt, "dow")
        .join(ct, "event_type")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "e",
            F.col("rt") * F.col("ct").cast("double") / F.col("n"),
        )
    )
    fold = lambda col: F.aggregate(  # noqa: E731
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("dow", "event_type", col))
            ),
            lambda t: t[col],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    terms = marg.select(
        "dow",
        "event_type",
        ((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")).alias(
            "pt"
        ),
        (F.col("o") * F.log(F.col("o") / F.col("e"))).alias("gt"),
        (
            (F.sqrt(F.col("o").cast("double")) - F.sqrt(F.col("e")))
            * (F.sqrt(F.col("o").cast("double")) - F.sqrt(F.col("e")))
        ).alias("ft"),
    )
    stats = terms.agg(
        fold("pt").alias("pearson"),
        (2 * fold("gt")).alias("g_stat"),
        (4 * fold("ft")).alias("freeman_tukey"),
    )
    return (
        stats.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(c))
        .select(
            "n",
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
            F.round("pearson", 6).alias("pearson_x2"),
            F.round("g_stat", 6).alias("g_stat"),
            F.round("freeman_tukey", 6).alias("freeman_tukey"),
        )
    )
