"""Wave-325: Kitagawa rate decomposition and location quotients with the
Krugman specialization index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_kitagawa_decomposition",
    oracle="""
    WITH cells AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS stratum,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT g, CAST(SUM(n) AS BIGINT) AS ng FROM cells GROUP BY g
    ),
    wr AS (
        SELECT c.stratum,
               MAX(CASE WHEN c.g = 1 THEN CAST(c.n AS DOUBLE) / t.ng END)
                   AS w1,
               MAX(CASE WHEN c.g = 0 THEN CAST(c.n AS DOUBLE) / t.ng END)
                   AS w0,
               MAX(CASE WHEN c.g = 1 THEN CAST(c.s AS DOUBLE) / c.n END)
                   AS r1,
               MAX(CASE WHEN c.g = 0 THEN CAST(c.s AS DOUBLE) / c.n END)
                   AS r0
        FROM cells c JOIN tot t ON c.g = t.g
        GROUP BY c.stratum
    ),
    parts AS (
        SELECT SUM((w1 + w0) / 2 * (r1 - r0)) AS rate_effect,
               SUM((r1 + r0) / 2 * (w1 - w0)) AS comp_effect,
               SUM(w1 * r1) AS crude1,
               SUM(w0 * r0) AS crude0
        FROM wr
    )
    SELECT ROUND(crude1, 6) AS weekend_rate,
           ROUND(crude0, 6) AS weekday_rate,
           ROUND(crude1 - crude0, 6) AS crude_gap,
           ROUND(rate_effect, 6) AS rate_effect,
           ROUND(comp_effect, 6) AS composition_effect,
           ROUND(ABS(rate_effect)
                 / (ABS(rate_effect) + ABS(comp_effect)), 6)
               AS rate_share_of_gap
    FROM parts
    """,
)
def model_kitagawa_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kitagawa decomposition of a rate difference (Kitagawa, JASA
    1955 — the demographer's original two-component split, ancestor of
    Oaxaca-Blinder): the weekend-vs-weekday purchase-rate gap splits
    EXACTLY into a rate effect Σ w̄·(r1-r0) (same mix, different
    behavior) and a composition effect Σ r̄·(w1-w0) (same behavior,
    different hour mix), using the symmetric average weights that make
    the decomposition exact with no interaction residual. The question
    'do weekends convert better, or do they just happen at better
    hours?' answered with two numbers that provably sum to the gap
    (the identity is pinned in pytest).

    Determinism: cell counts exact; weights/rates are fixed chains over
    the <=8-cell stratum frame; ROUND 6.

    Scale shape: one (group, stratum) conditional groupBy over the
    scan; the decomposition runs on the stratum frame."""
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
            F.floor(F.hour("ts") / 6).cast("long").alias("stratum"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("s"),
        )
    )
    tot = cells.groupBy("g").agg(F.sum("n").cast("long").alias("ng"))
    wr = (
        cells.join(tot, "g")
        .groupBy("stratum")
        .agg(
            F.max(
                F.when(
                    F.col("g") == 1, F.col("n").cast("double") / F.col("ng")
                )
            ).alias("w1"),
            F.max(
                F.when(
                    F.col("g") == 0, F.col("n").cast("double") / F.col("ng")
                )
            ).alias("w0"),
            F.max(
                F.when(
                    F.col("g") == 1, F.col("s").cast("double") / F.col("n")
                )
            ).alias("r1"),
            F.max(
                F.when(
                    F.col("g") == 0, F.col("s").cast("double") / F.col("n")
                )
            ).alias("r0"),
        )
    )
    parts = wr.agg(
        F.sum((F.col("w1") + F.col("w0")) / 2 * (F.col("r1") - F.col("r0"))).alias(
            "rate_effect"
        ),
        F.sum((F.col("r1") + F.col("r0")) / 2 * (F.col("w1") - F.col("w0"))).alias(
            "comp_effect"
        ),
        F.sum(F.col("w1") * F.col("r1")).alias("crude1"),
        F.sum(F.col("w0") * F.col("r0")).alias("crude0"),
    )
    return parts.select(
        F.round("crude1", 6).alias("weekend_rate"),
        F.round("crude0", 6).alias("weekday_rate"),
        F.round(F.col("crude1") - F.col("crude0"), 6).alias("crude_gap"),
        F.round("rate_effect", 6).alias("rate_effect"),
        F.round("comp_effect", 6).alias("composition_effect"),
        F.round(
            F.abs(F.col("rate_effect"))
            / (F.abs(F.col("rate_effect")) + F.abs(F.col("comp_effect"))),
            6,
        ).alias("rate_share_of_gap"),
    )


@query(
    "warehouse_location_quotient",
    oracle="""
    WITH cell AS (
        SELECT n.n_name, o.o_orderpriority AS pr,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, pr
    ),
    rt AS (SELECT n_name, CAST(SUM(x) AS BIGINT) AS xr FROM cell
           GROUP BY n_name),
    ct AS (SELECT pr, CAST(SUM(x) AS BIGINT) AS xc FROM cell GROUP BY pr),
    g AS (SELECT CAST(SUM(x) AS BIGINT) AS xg FROM cell),
    lq AS (
        SELECT c.n_name, c.pr,
               (CAST(c.x AS DOUBLE) / r.xr) / (CAST(t.xc AS DOUBLE) / g.xg)
                   AS lq,
               ABS(CAST(c.x AS DOUBLE) / r.xr - CAST(t.xc AS DOUBLE) / g.xg)
                   AS sharegap
        FROM cell c JOIN rt r ON c.n_name = r.n_name
        JOIN ct t ON c.pr = t.pr CROSS JOIN g
    )
    SELECT n_name,
           ROUND(MAX(lq), 6) AS max_lq,
           ROUND(MIN(lq), 6) AS min_lq,
           ROUND(SUM(sharegap) / 2, 6) AS krugman_index
    FROM lq GROUP BY n_name ORDER BY n_name
    """,
)
def warehouse_location_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location quotients and the Krugman specialization index (regional
    economics canon: LQ = (x_ij/x_i·)/(x_·j/x_··), Hoover/Isard
    tradition; Krugman, 'Geography and Trade' 1991 — half the L1
    distance between a region's industry mix and the national mix —
    public) over nation × order-priority: which nations' order books
    over- or under-index each priority class (LQ > 1 = local
    specialization), and how far each nation's whole mix sits from the
    global one. The per-region relative of pipeline_segregation_duncan
    (which compares two groups across regions; this compares each
    region to the total).

    Determinism: all shares from exact integer counts; fixed chains
    rounded 6dp; per-nation extrema are order-free.

    Scale shape: one dim-joined groupBy over orders (both dims
    broadcast), then dimension-sized rollups."""
    cell = (
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.col("o_orderpriority").alias("pr"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    rt = cell.groupBy("n_name").agg(F.sum("x").cast("long").alias("xr"))
    ct = cell.groupBy("pr").agg(F.sum("x").cast("long").alias("xc"))
    g = cell.agg(F.sum("x").cast("long").alias("xg"))
    lq = (
        cell.join(rt, "n_name")
        .join(F.broadcast(ct), "pr")
        .crossJoin(F.broadcast(g))
        .select(
            "n_name",
            (
                (F.col("x").cast("double") / F.col("xr"))
                / (F.col("xc").cast("double") / F.col("xg"))
            ).alias("lq"),
            F.abs(
                F.col("x").cast("double") / F.col("xr")
                - F.col("xc").cast("double") / F.col("xg")
            ).alias("sharegap"),
        )
    )
    return (
        lq.groupBy("n_name")
        .agg(
            F.round(F.max("lq"), 6).alias("max_lq"),
            F.round(F.min("lq"), 6).alias("min_lq"),
            F.round(F.sum("sharegap") / 2, 6).alias("krugman_index"),
        )
        .orderBy("n_name")
    )
