"""Wave-108: closed-form business-day arithmetic, Rocchio
nearest-centroid classification, and Theil inequality decomposition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "fn_business_days_lag",
    oracle="""
    WITH lags AS (
        SELECT o_orderpriority,
               -- W(d): weekdays in [1970-01-05 (a Monday), d)
               (DATEDIFF('day', DATE '1970-01-05', CAST(l_shipdate AS DATE)) // 7) * 5
                 + LEAST(DATEDIFF('day', DATE '1970-01-05',
                                  CAST(l_shipdate AS DATE)) % 7, 5)
               - ((DATEDIFF('day', DATE '1970-01-05', CAST(o_orderdate AS DATE)) // 7) * 5
                  + LEAST(DATEDIFF('day', DATE '1970-01-05',
                                   CAST(o_orderdate AS DATE)) % 7, 5))
                   AS busdays
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate >= o_orderdate
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(busdays) AS BIGINT) AS total_busdays,
           ROUND(SUM(busdays) * 1.0 / COUNT(*), 4) AS avg_busday_lag
    FROM lags
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def fn_business_days_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day lag in CLOSED FORM (the networkdays() of every
    warehouse SQL cookbook, public): weekdays between order and ship
    date computed as W(ship) - W(order), where W(d) = 5·(e div 7) +
    min(e mod 7, 5) counts weekdays from a Monday epoch in O(1) — no
    calendar explode, no per-day iteration, which is the whole point at
    100 TB (a calendar-spine join would multiply the fact table by the
    average lag).

    Determinism: pure integer floor/mod arithmetic on epoch day counts
    (the 1970-01-05 Monday anchor makes both engines' div/mod operate
    on non-negative numbers); one display division rounds 4dp.

    Scale shape: a keyed join + projection + map-side-combined rollup
    — the formula is a per-row expression."""
    epoch = F.lit("1970-01-05").cast("date")

    def W(col):
        e = F.datediff(col.cast("date"), epoch)
        return (e.cast("long") / 7).cast("long") * 5 + F.least(e % 7, F.lit(5))

    lags = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            (W(F.col("l_shipdate")) - W(F.col("o_orderdate"))).alias("busdays"),
        )
    )
    return (
        lags.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("busdays").cast("long").alias("total_busdays"),
            F.round(F.sum("busdays") / F.count("*"), 4).alias("avg_busday_lag"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "model_rocchio_classify",
    oracle="""
    WITH train AS (SELECT * FROM embeddings WHERE vec_id % 4 <> 0),
    test AS (SELECT * FROM embeddings WHERE vec_id % 4 = 0),
    tue AS (
        SELECT label, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM train
    ),
    cent AS (
        SELECT label, i, AVG(CAST(x AS DOUBLE)) AS cx FROM tue GROUP BY label, i
    ),
    cnorm AS (
        SELECT label, SQRT(SUM(cx * cx)) AS nc FROM cent GROUP BY label
    ),
    que AS (
        SELECT vec_id, label AS true_label, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM test
    ),
    qnorm AS (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nq
        FROM que GROUP BY vec_id
    ),
    scored AS (
        SELECT q.vec_id, MAX(q.true_label) AS true_label, c.label AS cand,
               ROUND(SUM(CAST(q.x AS DOUBLE) * c.cx)
                     / (MAX(qn.nq) * MAX(cn.nc)), 6) AS cosine
        FROM que q
        JOIN cent c ON c.i = q.i
        JOIN qnorm qn ON qn.vec_id = q.vec_id
        JOIN cnorm cn ON cn.label = c.label
        GROUP BY q.vec_id, c.label
    ),
    pred AS (
        SELECT vec_id, true_label, cand AS pred_label FROM (
            SELECT vec_id, true_label, cand, cosine,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, cand) AS rk
            FROM scored) s
        WHERE rk = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS accuracy
    FROM pred
    """,
)
def model_rocchio_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio / nearest-centroid classification (1971, public): train
    per-label mean vectors on 75% of the embeddings, classify the
    held-out 25% by maximum cosine to a centroid — the O(K) classifier
    that serves as the embedding-space baseline before k-NN (O(N),
    model_knn_classify) is worth its cost, and exactly the structure a
    production system reuses from its IVF centroids.

    Determinism: fixture embedding components are dyadic-quantized, so
    centroid AVG and dot-product SUMs are exact in both engines (the
    established sim-family contract); cosine rounds 6dp before the
    argmax; ties break on label.

    Scale shape: centroid build is one (label, dim) groupBy; scoring
    joins the tiny (K x dim) centroid table — broadcastable — against
    exploded test vectors; the vote is a per-vector argmax."""
    e = table(spark, sf_dir, "embeddings")
    train = e.where(F.col("vec_id") % 4 != 0)
    test = e.where(F.col("vec_id") % 4 == 0)
    tue = train.select(
        "label", F.posexplode("embedding").alias("i", "x")
    )
    cent = tue.groupBy("label", "i").agg(F.avg(F.col("x").cast("double")).alias("cx"))
    cnorm = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("cx") * F.col("cx"))).alias("nc"))
    que = test.select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.posexplode("embedding").alias("i", "x"),
    )
    qnorm = que.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("x").cast("double") * F.col("x").cast("double"))).alias("nq")
    )
    scored = (
        que.join(F.broadcast(cent), "i")
        .groupBy("vec_id", F.col("label").alias("cand"))
        .agg(
            F.max("true_label").alias("true_label"),
            F.sum(F.col("x").cast("double") * F.col("cx")).alias("dot"),
        )
        .join(qnorm, "vec_id")
        .join(F.broadcast(cnorm.withColumnRenamed("label", "cand")), "cand")
        .select(
            "vec_id",
            "true_label",
            "cand",
            F.round(F.col("dot") / (F.col("nq") * F.col("nc")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("cand"))
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "true_label", F.col("cand").alias("pred_label"))
    )
    return pred.agg(
        F.count("*").cast("long").alias("n_test"),
        F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("accuracy"),
    )


@query(
    "agg_theil_decomposition",
    oracle="""
    WITH x AS (
        SELECT c_nationkey AS g,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
            FROM x),
    rows_scaled AS (
        SELECT CAST(FLOOR((CAST(v AS DOUBLE) * n / s)
                          * LN(CAST(v AS DOUBLE) * n / s) * 1000000) AS BIGINT)
                   AS t_scaled
        FROM x, tot
    ),
    total_t AS (
        SELECT CAST(SUM(t_scaled) AS BIGINT) AS tsum FROM rows_scaled
    ),
    per_g AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(v) AS BIGINT) AS sg
        FROM x GROUP BY g
    ),
    between_g AS (
        SELECT CAST(LIST_REDUCE(
                   LIST((CAST(sg AS DOUBLE) / s)
                        * LN((CAST(sg AS DOUBLE) / s) / (CAST(ng AS DOUBLE) / n))
                        ORDER BY g),
                   (a, b) -> a + b) AS DOUBLE) AS t_between
        FROM per_g, tot
    )
    SELECT n AS n_orders,
           ROUND(CAST(tsum AS DOUBLE) / 1000000 / n, 6) AS theil_total,
           ROUND(t_between, 6) AS theil_between,
           ROUND(CAST(tsum AS DOUBLE) / 1000000 / n - t_between, 6)
               AS theil_within
    FROM tot, total_t, between_g
    """,
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index with its additive decomposition (Theil
    1967, public): total revenue inequality across orders splits
    EXACTLY into between-nation and within-nation components — the
    property Gini famously lacks, and the reason Theil is the
    inequality measure used for 'how much of the disparity is
    geographic?'. Reported as total / between / within (within by
    subtraction).

    Determinism: each row's share-weighted log term is floor-scaled to
    an integer at 1e6 (single LN per row on an exact rational — the
    Naive-Bayes floor discipline), so the big sum is exact BIGINT; the
    between-group term folds over nations in FIXED order; display
    rounds 6dp.

    Scale shape: one scalar total, one projection + integer-sum
    aggregate, one |groups| fold — single pass over the join."""
    x = (
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    tot = x.agg(
        F.count("*").cast("long").alias("n"), F.sum("v").cast("long").alias("s")
    )
    ratio = F.col("v").cast("double") * F.col("n") / F.col("s")
    rows_scaled = x.crossJoin(F.broadcast(tot)).select(
        F.floor(ratio * F.log(ratio) * 1000000).cast("long").alias("t_scaled")
    )
    total_t = rows_scaled.agg(F.sum("t_scaled").cast("long").alias("tsum"))
    per_g = x.groupBy("g").agg(
        F.count("*").cast("long").alias("ng"), F.sum("v").cast("long").alias("sg")
    )
    between = per_g.crossJoin(F.broadcast(tot)).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("g", "sg", "ng", "s", "n"))),
            F.lit(0.0),
            lambda acc, r: acc
            + (r.sg.cast("double") / r.s)
            * F.log((r.sg.cast("double") / r.s) / (r.ng.cast("double") / r.n)),
        ).alias("t_between")
    )
    return (
        tot.crossJoin(F.broadcast(total_t))
        .crossJoin(F.broadcast(between))
        .select(
            F.col("n").alias("n_orders"),
            F.round(F.col("tsum").cast("double") / 1000000 / F.col("n"), 6).alias("theil_total"),
            F.round(F.col("t_between"), 6).alias("theil_between"),
            F.round(
                F.col("tsum").cast("double") / 1000000 / F.col("n") - F.col("t_between"),
                6,
            ).alias("theil_within"),
        )
    )
