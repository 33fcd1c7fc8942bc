"""Wave-269: psychometrics and survey planning — KR-20 reliability with
per-item point-biserial discrimination over the user x event-type
"test", and Cochran's sample-size formula with finite-population
correction from pilot moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_item_analysis_kr20",
    oracle="""
    WITH items AS (
        SELECT user_id,
               CASE WHEN 5 * SUM(CASE WHEN event_type = 'click' THEN 1
                                      ELSE 0 END) > COUNT(*)
                    THEN 1 ELSE 0 END AS i1,
               CASE WHEN 5 * SUM(CASE WHEN event_type = 'view' THEN 1
                                      ELSE 0 END) > COUNT(*)
                    THEN 1 ELSE 0 END AS i2,
               CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase' THEN 1
                                      ELSE 0 END) > COUNT(*)
                    THEN 1 ELSE 0 END AS i3,
               CASE WHEN 5 * SUM(CASE WHEN event_type = 'signup' THEN 1
                                      ELSE 0 END) > COUNT(*)
                    THEN 1 ELSE 0 END AS i4,
               CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                                      ELSE 0 END) > COUNT(*)
                    THEN 1 ELSE 0 END AS i5
        FROM events GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, i1, i2, i3, i4, i5,
               i1 + i2 + i3 + i4 + i5 AS total
        FROM items
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(CAST(total AS DOUBLE)) AS mt,
               SUM(CAST(total AS DOUBLE) * total) AS stt,
               AVG(CAST(i1 AS DOUBLE)) AS p1, AVG(CAST(i2 AS DOUBLE)) AS p2,
               AVG(CAST(i3 AS DOUBLE)) AS p3, AVG(CAST(i4 AS DOUBLE)) AS p4,
               AVG(CAST(i5 AS DOUBLE)) AS p5,
               SUM(i1 * CAST(total AS DOUBLE)) AS s1t,
               SUM(i2 * CAST(total AS DOUBLE)) AS s2t,
               SUM(i3 * CAST(total AS DOUBLE)) AS s3t,
               SUM(i4 * CAST(total AS DOUBLE)) AS s4t,
               SUM(i5 * CAST(total AS DOUBLE)) AS s5t
        FROM scored
    ),
    derived AS (
        SELECT n, mt,
               stt / n - mt * mt AS vart,
               p1, p2, p3, p4, p5,
               s1t / n - p1 * mt AS c1, s2t / n - p2 * mt AS c2,
               s3t / n - p3 * mt AS c3, s4t / n - p4 * mt AS c4,
               s5t / n - p5 * mt AS c5
        FROM mom
    ),
    kr AS (
        SELECT n, vart,
               CASE WHEN vart = 0 THEN 0.0
                    ELSE (5.0 / 4) * (1 - (p1 * (1 - p1) + p2 * (1 - p2)
                                      + p3 * (1 - p3) + p4 * (1 - p4)
                                      + p5 * (1 - p5)) / vart) END AS kr20,
               p1, p2, p3, p4, p5, c1, c2, c3, c4, c5
        FROM derived
    ),
    long_items AS (
        SELECT 1 AS item, p1 AS p, c1 AS c, kr20, n, vart FROM kr
        UNION ALL SELECT 2, p2, c2, kr20, n, vart FROM kr
        UNION ALL SELECT 3, p3, c3, kr20, n, vart FROM kr
        UNION ALL SELECT 4, p4, c4, kr20, n, vart FROM kr
        UNION ALL SELECT 5, p5, c5, kr20, n, vart FROM kr
    )
    SELECT item, n AS n_subjects,
           ROUND(p, 6) AS difficulty,
           ROUND(CASE WHEN p = 0 OR p = 1 OR vart = 0 THEN 0.0
                      ELSE c / (SQRT(p * (1 - p)) * SQRT(vart)) END, 6)
               AS point_biserial,
           ROUND(kr20, 6) AS kr20
    FROM long_items ORDER BY item
    """,
)
def model_item_analysis_kr20(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical test theory item analysis (Kuder & Richardson,
    Psychometrika 1937 for KR-20; the point-biserial discrimination
    index per Lord & Novick 1968, public): the five event types are
    binary "items" — does the user OVER-INDEX on that type relative to
    a uniform mix (5 * count_type > count_all, an exact integer
    comparison; "ever did X" is degenerate here — every fixture user
    did everything); KR-20 = k/(k-1) *
    (1 - sum p(1-p) / var(total)) is Cronbach's alpha specialized to
    dichotomous items, and each item's point-biserial corr(item, total)
    measures discrimination — items near 0 add noise, not signal. The
    same arithmetic screens FEATURE PANELS: do these five binary flags
    form one coherent scale?

    Exactness device: item vector and totals stay integers; population
    moments from one pass; degenerate items (p = 0 or 1) emit 0
    discrimination via the same CASE both sides.

    Scale shape: one user rollup (5 conditional maxes), one 1-row
    moment aggregate, a constant 5-row unpivot."""
    items = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            *[
                (
                    5
                    * F.sum(
                        F.when(F.col("event_type") == et, 1).otherwise(0)
                    )
                    > F.count("*")
                )
                .cast("int")
                .alias(f"i{k}")
                for k, et in enumerate(
                    ("click", "view", "purchase", "signup", "error"),
                    start=1,
                )
            ]
        )
    )
    scored = items.withColumn(
        "total",
        sum(F.col(f"i{k}") for k in range(1, 6)),
    )
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("total").cast("double")).alias("mt"),
        F.sum(F.col("total").cast("double") * F.col("total")).alias("stt"),
    ]
    for k in range(1, 6):
        aggs.append(F.avg(F.col(f"i{k}").cast("double")).alias(f"p{k}"))
        aggs.append(
            F.sum(F.col(f"i{k}") * F.col("total").cast("double")).alias(
                f"s{k}t"
            )
        )
    mom = scored.agg(*aggs)
    vart = F.col("stt") / F.col("n") - F.col("mt") * F.col("mt")
    pq_sum = None
    for k in range(1, 6):
        term = F.col(f"p{k}") * (1 - F.col(f"p{k}"))
        pq_sum = term if pq_sum is None else pq_sum + term
    kr20 = F.when(vart == 0, F.lit(0.0)).otherwise(
        (5.0 / 4) * (1 - pq_sum / vart)
    )
    base = mom.select(
        "n",
        vart.alias("vart"),
        kr20.alias("kr20"),
        *[F.col(f"p{k}") for k in range(1, 6)],
        *[
            (F.col(f"s{k}t") / F.col("n") - F.col(f"p{k}") * F.col("mt")).alias(
                f"c{k}"
            )
            for k in range(1, 6)
        ],
    )
    # r11: the 5 item rows come from ONE explode(array(struct...)) over the
    # single-row moment frame — the old 5-branch unionAll embedded the
    # user rollup + moment aggregate subtree per branch, so the whole
    # upstream ran 5x (and was analyzed 5x). Per-item expressions unchanged.
    item_structs = []
    for k in range(1, 6):
        p, c = F.col(f"p{k}"), F.col(f"c{k}")
        item_structs.append(
            F.struct(
                F.lit(k).cast("int").alias("item"),
                F.col("n").alias("n_subjects"),
                F.round(p, 6).alias("difficulty"),
                F.round(
                    F.when(
                        (p == 0) | (p == 1) | (F.col("vart") == 0),
                        F.lit(0.0),
                    ).otherwise(
                        c / (F.sqrt(p * (1 - p)) * F.sqrt(F.col("vart")))
                    ),
                    6,
                ).alias("point_biserial"),
                F.round("kr20", 6).alias("kr20"),
            )
        )
    return (
        base.select(F.explode(F.array(*item_structs)).alias("r"))
        .select("r.*")
        .orderBy("item")
    )


@query(
    "sample_cochran_size",
    oracle="""
    WITH pilot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS big_n,
               AVG(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0 END)
                   AS p,
               AVG(value) AS mu,
               SUM(value * value) / COUNT(*) - AVG(value) * AVG(value)
                   AS var_v
        FROM events
    ),
    calc AS (
        SELECT big_n, p, mu, var_v,
               1.959964 * 1.959964 * p * (1 - p) / (0.01 * 0.01) AS n0_prop,
               1.959964 * 1.959964 * var_v
                   / ((0.02 * mu) * (0.02 * mu)) AS n0_mean
        FROM pilot
    )
    SELECT big_n AS population_n,
           ROUND(p, 6) AS pilot_proportion,
           ROUND(n0_prop, 4) AS n0_proportion,
           CAST(CEIL(n0_prop / (1 + (n0_prop - 1) / big_n)) AS BIGINT)
               AS n_proportion_fpc,
           ROUND(n0_mean, 4) AS n0_mean,
           CAST(CEIL(n0_mean / (1 + (n0_mean - 1) / big_n)) AS BIGINT)
               AS n_mean_fpc
    FROM calc
    """,
)
def sample_cochran_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's sample-size formulas with finite-population correction
    (Cochran, Sampling Techniques 1977, public), computed from the
    fixture as its own pilot: n0 = z^2 p(1-p)/e^2 for estimating the
    purchase proportion within +/-1 percentage point, n0 = z^2 s^2 /
    (0.02*mu)^2 for the mean value within +/-2% relative, each
    deflated by the FPC n0/(1 + (n0-1)/N). The planning calculation
    that precedes every scan_sample/sample_stratified job: how many
    rows does the next survey actually need?

    Exactness device: pilot moments in one pass; z and margins are
    literals; CEIL of identical chains.

    Scale shape: one aggregate — the op's entire point is that
    planning is O(scan), sampling is O(answer)."""
    pilot = table(spark, sf_dir, "events").agg(
        F.count("*").cast("long").alias("big_n"),
        F.avg(
            F.when(F.col("event_type") == "purchase", 1.0).otherwise(0)
        ).alias("p"),
        F.avg("value").alias("mu"),
        (
            F.sum(F.col("value") * F.col("value")) / F.count("*")
            - F.avg("value") * F.avg("value")
        ).alias("var_v"),
    )
    z2 = 1.959964 * 1.959964
    n0p = z2 * F.col("p") * (1 - F.col("p")) / (0.01 * 0.01)
    n0m = z2 * F.col("var_v") / ((0.02 * F.col("mu")) * (0.02 * F.col("mu")))
    return pilot.select(
        F.col("big_n").alias("population_n"),
        F.round("p", 6).alias("pilot_proportion"),
        F.round(n0p, 4).alias("n0_proportion"),
        F.ceil(n0p / (1 + (n0p - 1) / F.col("big_n")))
        .cast("long")
        .alias("n_proportion_fpc"),
        F.round(n0m, 4).alias("n0_mean"),
        F.ceil(n0m / (1 + (n0m - 1) / F.col("big_n")))
        .cast("long")
        .alias("n_mean_fpc"),
    )
