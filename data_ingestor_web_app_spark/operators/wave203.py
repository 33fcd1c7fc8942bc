"""Wave-203: Goodman-Kruskal gamma and lambda — the ordinal
concordance and nominal proportional-reduction-in-error association
measures missing from the contingency family (Cramér's V, Theil's U,
Somers' D, Kendall tau are already registered).

Both reduce to exact integer pair/max counting on a small contingency
table, so the only double is the final ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
# fixed integer cent-edges for the ordinal spend bucket (~quartiles of
# the fixture; FIXED so bucketing never depends on a computed quantile)
_EDGES = (1500, 3500, 7000)


_CELLS_SQL = f"""cells AS (
        SELECT CAST(HOUR(ts) // 6 AS BIGINT) AS x,
               CASE WHEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         < {_EDGES[0]} THEN 0
                    WHEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         < {_EDGES[1]} THEN 1
                    WHEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         < {_EDGES[2]} THEN 2
                    ELSE 3 END AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    )"""


@query(
    "agg_gk_gamma",
    oracle=f"""
    WITH {_CELLS_SQL},
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (b.x > a.x AND b.y > a.y)
                               OR (b.x < a.x AND b.y < a.y)
                             THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
                    AS HUGEINT) AS conc2,
               CAST(SUM(CASE WHEN (b.x > a.x AND b.y < a.y)
                               OR (b.x < a.x AND b.y > a.y)
                             THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
                    AS HUGEINT) AS disc2
        FROM cells a, cells b
    )
    SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM cells) AS n,
           CAST(conc2 / 2 AS BIGINT) AS concordant,
           CAST(disc2 / 2 AS BIGINT) AS discordant,
           ROUND(CAST(conc2 - disc2 AS DOUBLE)
                 / CAST(conc2 + disc2 AS DOUBLE), 6) AS gamma
    FROM pairs
    """,
)
def agg_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between two ordinal variables — six-hour
    bin of the day vs fixed spend bucket: gamma = (C - D)/(C + D) over
    concordant/discordant pairs, ignoring ties entirely (the property
    that distinguishes it from Kendall tau-b, already registered).
    Gamma reads as "of the untied pairs, how many agree in direction".

    Determinism: the fact table collapses to a 4x4 contingency table;
    C and D are exact integer products of cell counts (each unordered
    pair counted twice, halved exactly); one double division.

    Scale shape: one groupBy to 16 cells (map-side combinable), then a
    16x16 constant-size pair fold."""
    events = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    cells = events.groupBy(
        (F.hour("ts") / 6).cast("long").alias("x"),
        F.when(cents < _EDGES[0], 0)
        .when(cents < _EDGES[1], 1)
        .when(cents < _EDGES[2], 2)
        .otherwise(3)
        .cast("long")
        .alias("y"),
    ).agg(F.count("*").cast("long").alias("c"))
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("c").alias("ac")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("c").alias("bc")
    )
    prod = F.col("ac").cast(_DEC) * F.col("bc")
    pairs = a.crossJoin(b).agg(  # bounded: 16x16 contingency cells
        F.sum(
            F.when(
                ((F.col("bx") > F.col("ax")) & (F.col("by") > F.col("ay")))
                | ((F.col("bx") < F.col("ax")) & (F.col("by") < F.col("ay"))),
                prod,
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("conc2"),
        F.sum(
            F.when(
                ((F.col("bx") > F.col("ax")) & (F.col("by") < F.col("ay")))
                | ((F.col("bx") < F.col("ax")) & (F.col("by") > F.col("ay"))),
                prod,
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("disc2"),
    )
    n = cells.agg(F.sum("c").cast("long").alias("n"))
    return pairs.crossJoin(F.broadcast(n)).select(
        "n",
        (F.col("conc2") / 2).cast("long").alias("concordant"),
        (F.col("disc2") / 2).cast("long").alias("discordant"),
        F.round(
            (F.col("conc2") - F.col("disc2")).cast("double")
            / (F.col("conc2") + F.col("disc2")).cast("double"),
            6,
        ).alias("gamma"),
    )


@query(
    "agg_gk_lambda",
    oracle="""
    WITH cells AS (
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    rowmax AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS srm
        FROM (SELECT dow, MAX(c) AS mx FROM cells GROUP BY dow)
    ),
    colmax AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS scm
        FROM (SELECT event_type, MAX(c) AS mx FROM cells
              GROUP BY event_type)
    ),
    margmax AS (
        SELECT CAST(MAX(tc) AS BIGINT) AS mc,
               (SELECT CAST(MAX(tr) AS BIGINT) FROM (
                    SELECT SUM(c) AS tr FROM cells GROUP BY dow)) AS mr
        FROM (SELECT SUM(c) AS tc FROM cells GROUP BY event_type)
    )
    SELECT n.n,
           ROUND(CAST(rowmax.srm - margmax.mc AS DOUBLE)
                 / (n.n - margmax.mc), 6) AS lambda_type_given_dow,
           ROUND(CAST(colmax.scm - margmax.mr AS DOUBLE)
                 / (n.n - margmax.mr), 6) AS lambda_dow_given_type,
           ROUND(CAST(rowmax.srm + colmax.scm - margmax.mc - margmax.mr
                      AS DOUBLE)
                 / (2 * n.n - margmax.mc - margmax.mr), 6)
               AS lambda_symmetric
    FROM n, rowmax, colmax, margmax
    """,
)
def agg_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal lambda on the day-of-week x event-type table:
    the proportional reduction in prediction error — "knowing the
    weekday, how much better do I guess the event type than always
    guessing the modal type?" (and the reverse, and the symmetric
    combination). The PRE semantics make lambda the interpretable
    companion to Cramér's V, and lambda = 0 exactly when the modal
    prediction never changes across rows — a diagnostic V can't give.

    Determinism: every term is an exact integer max/sum over the
    contingency table; three double divisions at the end.

    Scale shape: one groupBy to <= 35 cells; constant-size after."""
    events = table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.dayofweek(F.to_date("ts")).cast("long").alias("dow"),
        "event_type",
    ).agg(F.count("*").cast("long").alias("c"))
    n = cells.agg(F.sum("c").cast("long").alias("n"))
    rowmax = (
        cells.groupBy("dow")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("srm"))
    )
    colmax = (
        cells.groupBy("event_type")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("scm"))
    )
    mc = (
        cells.groupBy("event_type")
        .agg(F.sum("c").alias("tc"))
        .agg(F.max("tc").cast("long").alias("mc"))
    )
    mr = (
        cells.groupBy("dow")
        .agg(F.sum("c").alias("tr"))
        .agg(F.max("tr").cast("long").alias("mr"))
    )
    j = (
        n.crossJoin(rowmax)
        .crossJoin(colmax)
        .crossJoin(mc)
        .crossJoin(mr)
    )
    return j.select(
        "n",
        F.round(
            (F.col("srm") - F.col("mc")).cast("double")
            / (F.col("n") - F.col("mc")),
            6,
        ).alias("lambda_type_given_dow"),
        F.round(
            (F.col("scm") - F.col("mr")).cast("double")
            / (F.col("n") - F.col("mr")),
            6,
        ).alias("lambda_dow_given_type"),
        F.round(
            (
                F.col("srm") + F.col("scm") - F.col("mc") - F.col("mr")
            ).cast("double")
            / (2 * F.col("n") - F.col("mc") - F.col("mr")),
            6,
        ).alias("lambda_symmetric"),
    )
