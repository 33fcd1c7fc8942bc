"""Wave-200: bucketed Local Outlier Factor over the embeddings, and the
Hoover (Robin Hood) inequality index.

LOF is the standard density-based anomaly score for vector corpora —
points whose local density is much lower than their neighbors'. The
classic form needs global kNN; here neighborhoods are computed WITHIN
each label bucket (the IVF-cell-local approximation the ANN family
already uses: at 100 TB you assign points to coarse cells and run LOF
cell-locally instead of an O(N^2) global pass). Every distance is an
exact quantized integer, every kNN set is (d2, id)-ordered, and each
k-element average runs as an ordered fold — bit-stable in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 5  # LOF neighborhood size


@query(
    "sim_lof_bucketed",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               LIST_TRANSFORM(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qx
        FROM embeddings
    ),
    qd AS (
        SELECT vec_id, label, i, qx[i] AS qv
        FROM q, UNNEST(GENERATE_SERIES(1, LEN(qx))) AS t(i)
    ),
    pairs AS (
        SELECT a.vec_id AS p, b.vec_id AS o, a.label,
               CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d2
        FROM qd a JOIN qd b
          ON a.label = b.label AND a.i = b.i AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id, a.label
    ),
    knn AS (
        SELECT p, o, label, d2,
               ROW_NUMBER() OVER (PARTITION BY p ORDER BY d2, o) AS rn
        FROM pairs
    ),
    kd AS (
        SELECT p, MAX(d2) AS kdist2 FROM knn WHERE rn <= {_K} GROUP BY p
    ),
    reach AS (
        SELECT k.p, k.o,
               SQRT(CAST(GREATEST(kd.kdist2, k.d2) AS DOUBLE)) AS r
        FROM knn k JOIN kd ON kd.p = k.o
        WHERE k.rn <= {_K}
    ),
    lrd AS (
        SELECT p,
               {_K} / LIST_REDUCE(LIST(r ORDER BY o), (x, y) -> x + y)
                   AS lrd
        FROM reach GROUP BY p
    ),
    lof AS (
        SELECT k.p,
               LIST_REDUCE(LIST(lo.lrd ORDER BY k.o), (x, y) -> x + y)
                 / ({_K} * lp.lrd) AS lof
        FROM knn k
        JOIN lrd lo ON lo.p = k.o
        JOIN lrd lp ON lp.p = k.p
        WHERE k.rn <= {_K}
        GROUP BY k.p, lp.lrd
    )
    SELECT q.vec_id, q.label,
           ROUND(SQRT(CAST(kd.kdist2 AS DOUBLE)) / 1e6, 6) AS kdist,
           ROUND(lof.lof, 6) AS lof
    FROM q JOIN kd ON kd.p = q.vec_id JOIN lof ON lof.p = q.vec_id
    """,
)
def sim_lof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig et al.) with k={_K}, computed
    bucket-locally per label: lrd(p) = k / sum(reach-dist_k(p, o)),
    LOF(p) = mean(lrd(o)) / lrd(p) over p's k nearest SAME-BUCKET
    neighbors. LOF near 1 = as dense as neighbors; >> 1 = local outlier.
    The density-aware anomaly score that a global z-score can't give —
    and the bucket-local form is exactly how it scales (assign to coarse
    IVF cells, run LOF inside each cell; never a global O(N^2) pass).

    Determinism: pairwise d2 are exact integers; kNN sets order by
    (d2, id); reach distances take GREATEST on exact ints before one
    sqrt; every k-term sum is an ordered fold over neighbor ids.

    Scale shape: the pair join is label-bucketed (cell-local, the plan's
    only shuffle keys are (label, i) and the group keys) — cost is
    sum of cell_size^2, not corpus^2; k-row windows partition by point."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    a = q.select(
        F.col("vec_id").alias("p"), "label", F.col("qx").alias("ax")
    )
    b = q.select(
        F.col("vec_id").alias("o"), "label", F.col("qx").alias("bx")
    )
    d2 = F.aggregate(
        F.zip_with("ax", "bx", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, "label")
        .where(F.col("p") != F.col("o"))
        .select("p", "o", "label", d2.alias("d2"))
    )
    knn = pairs.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("p").orderBy("d2", "o")),
    ).where(F.col("rn") <= _K)
    kd = knn.groupBy("p").agg(F.max("d2").alias("kdist2"))
    reach = knn.join(
        kd.select(F.col("p").alias("o"), F.col("kdist2").alias("okd")), "o"
    ).select(
        "p",
        "o",
        F.sqrt(F.greatest("okd", "d2").cast("double")).alias("r"),
    )
    lrd = reach.groupBy("p").agg(
        (
            F.lit(float(_K))
            / F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("o", "r"))),
                    lambda t: t.r,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("lrd")
    )
    lof = (
        knn.join(lrd.select(F.col("p").alias("o"), F.col("lrd").alias("olrd")), "o")
        .join(lrd.select(F.col("p"), F.col("lrd").alias("plrd")), "p")
        .groupBy("p", "plrd")
        .agg(
            (
                F.aggregate(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("o", "olrd"))),
                        lambda t: t.olrd,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.lit(float(_K)) * F.col("plrd"))
            ).alias("lof")
        )
    )
    return (
        q.select("vec_id", "label")
        .join(kd.select(F.col("p").alias("vec_id"), "kdist2"), "vec_id")
        .join(lof.select(F.col("p").alias("vec_id"), "lof"), "vec_id")
        .select(
            "vec_id",
            "label",
            F.round(F.sqrt(F.col("kdist2").cast("double")) / 1e6, 6).alias(
                "kdist"
            ),
            F.round("lof", 6).alias("lof"),
        )
    )


@query(
    "agg_hoover_index",
    oracle="""
    WITH x AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s
        FROM x
    )
    SELECT m.n, m.s AS total_cents,
           ROUND(SUM(ABS(m.n * x.cents - m.s))
                 / (2.0e0 * m.n * m.s), 6) AS hoover
    FROM x, mom m
    GROUP BY m.n, m.s
    """,
)
def agg_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoover (Robin Hood) index of the order-value distribution: the
    fraction of total value that would have to move from above-mean to
    below-mean orders to equalize everything — H = sum|x - mean| /
    (2 * sum x). The most interpretable member of the inequality family
    (Gini/Lorenz/Atkinson/Theil already in the registry): "move H% of
    revenue and the mix is flat".

    Determinism: H = sum|n*x - S| / (2nS) — the absolute deviations are
    exact integers (no mean division per row), one double division total.

    Scale shape: two passes (moments, then the deviation sum against the
    broadcast 1-row moment frame), both map-side combinable."""
    orders = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    x = orders.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
    )
    mom = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    return (
        x.crossJoin(F.broadcast(mom))
        .groupBy("n", "s")
        .agg(
            F.round(
                F.sum(F.abs(F.col("n") * F.col("cents") - F.col("s")))
                / (F.lit(2.0) * F.col("n") * F.col("s")),
                6,
            ).alias("hoover")
        )
        .select("n", F.col("s").alias("total_cents"), "hoover")
    )
