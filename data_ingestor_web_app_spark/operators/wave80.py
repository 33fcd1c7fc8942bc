"""Wave-80: BM25 relevance ranking with fixed-order term sums, a
t-closeness privacy audit in exact integer EMD arithmetic, and a
Goertzel-style periodogram over an integer-scaled trig table.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# BM25 constants (Robertson et al., public) and the literal query terms —
# identical in both engines so the ranking replays exactly.
_K1, _B = 1.2, 0.75
_TERMS = ("window", "merge", "stream")


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token
        FROM documents
    ),
    clean AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM clean GROUP BY doc_id),
    corpus AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               SUM(dl) * 1.0 / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN token = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf_1,
               CAST(SUM(CASE WHEN token = 'merge'  THEN 1 ELSE 0 END) AS BIGINT) AS tf_2,
               CAST(SUM(CASE WHEN token = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS tf_3
        FROM clean GROUP BY doc_id
    ),
    dfreq AS (
        SELECT CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
               CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2,
               CAST(SUM(CASE WHEN tf_3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_3
        FROM tf
    ),
    scored AS (
        SELECT t.doc_id,
               ROUND(
                 LN(1 + (c.n_docs - f.df_1 + 0.5) / (f.df_1 + 0.5))
                   * (t.tf_1 * ({_K1} + 1))
                   / (t.tf_1 + {_K1} * (1 - {_B} + {_B} * d.dl / c.avgdl))
               + LN(1 + (c.n_docs - f.df_2 + 0.5) / (f.df_2 + 0.5))
                   * (t.tf_2 * ({_K1} + 1))
                   / (t.tf_2 + {_K1} * (1 - {_B} + {_B} * d.dl / c.avgdl))
               + LN(1 + (c.n_docs - f.df_3 + 0.5) / (f.df_3 + 0.5))
                   * (t.tf_3 * ({_K1} + 1))
                   / (t.tf_3 + {_K1} * (1 - {_B} + {_B} * d.dl / c.avgdl)), 4)
                   AS bm25
        FROM tf t JOIN dl d USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfreq f
    )
    SELECT doc_id, bm25, rk FROM (
        SELECT doc_id, bm25,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM scored) s
    WHERE rk <= 15
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Robertson-Sparck Jones probabilistic relevance,
    public) of the document corpus against a literal 3-term query — the
    retrieval scorer under every lexical search / RAG hybrid stack.
    Term frequencies pivot into fixed columns so the 3-term score is ONE
    fixed-order arithmetic expression (never a float SUM over an
    unordered group — the order-sensitivity trap), and idf uses the
    +1-smoothed Robertson form so it is positive even for df > N/2.

    Determinism: tf/df/dl/N are exact BIGINTs; avgdl and the score are
    one fixed double formula rounded 4dp; top-k has a doc_id tie-break.

    Scale shape: tokenize explodes map-side; tf is one shuffle on
    doc_id; df/corpus stats are scalar aggregates broadcast back; the
    final top-k is TakeOrderedAndProject (heap per partition, k-merge
    on the driver) — no global sort. At 100 TB the same plan serves
    query-time scoring with the tf table pre-materialized as an
    inverted index bucketed by token."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
        .where(F.col("token") != "")
    )
    tf = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dl"),
        F.sum(F.when(F.col("token") == _TERMS[0], 1).otherwise(0)).cast("long").alias("tf_1"),
        F.sum(F.when(F.col("token") == _TERMS[1], 1).otherwise(0)).cast("long").alias("tf_2"),
        F.sum(F.when(F.col("token") == _TERMS[2], 1).otherwise(0)).cast("long").alias("tf_3"),
    )
    stats = tf.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
        F.sum(F.when(F.col("tf_1") > 0, 1).otherwise(0)).cast("long").alias("df_1"),
        F.sum(F.when(F.col("tf_2") > 0, 1).otherwise(0)).cast("long").alias("df_2"),
        F.sum(F.when(F.col("tf_3") > 0, 1).otherwise(0)).cast("long").alias("df_3"),
    )
    j = tf.crossJoin(F.broadcast(stats))

    def term(tf_c: str, df_c: str):
        idf = F.log(
            1 + (F.col("n_docs") - F.col(df_c) + 0.5) / (F.col(df_c) + 0.5)
        )
        denom = F.col(tf_c) + _K1 * (
            1 - _B + _B * F.col("dl") / F.col("avgdl")
        )
        return idf * (F.col(tf_c) * (_K1 + 1)) / denom

    scored = j.select(
        "doc_id",
        F.round(term("tf_1", "df_1") + term("tf_2", "df_2") + term("tf_3", "df_3"), 4).alias("bm25"),
    )
    from pyspark.sql.window import Window

    # heap top-k (TakeOrderedAndProject), then rank only the 15 survivors —
    # never a global-order window over the full scored set
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(15)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rk", F.row_number().over(w)).select("doc_id", "bm25", "rk")


@query(
    "privacy_t_closeness",
    oracle="""
    WITH o AS (
        SELECT n.n_name,
               LEAST(9, CAST(FLOOR(o_totalprice / 60000) AS INT)) AS bucket
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n ON n.n_nationkey = c_nationkey
    ),
    g AS (
        SELECT n_name, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM o GROUP BY n_name, bucket
    ),
    dense AS (
        SELECT nn.n_name, b.bucket, COALESCE(g.cnt, 0) AS cnt
        FROM (SELECT DISTINCT n_name FROM g) nn
        CROSS JOIN (SELECT UNNEST(RANGE(10)) AS bucket) b
        LEFT JOIN g ON g.n_name = nn.n_name AND g.bucket = b.bucket
    ),
    cum AS (
        SELECT n_name, bucket,
               SUM(cnt) OVER (PARTITION BY n_name ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_g,
               SUM(cnt) OVER (PARTITION BY n_name) AS n_g,
               SUM(cnt) OVER (ORDER BY bucket
                              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_all,
               SUM(cnt) OVER () AS n_all
        FROM dense
    )
    SELECT n_name,
           CAST(MAX(n_g) AS BIGINT) AS group_n,
           ROUND(SUM(ABS(n_all * cum_g - n_g * cum_all)) * 1.0
                 / (MAX(n_g) * MAX(n_all) * 9), 6) AS emd,
           SUM(ABS(n_all * cum_g - n_g * cum_all)) * 5
               > MAX(n_g) * MAX(n_all) * 9 AS t_violation
    FROM cum
    WHERE bucket < 9
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007,
    public): for each quasi-identifier class (customer nation), the
    Earth-Mover's Distance between its order-value distribution and the
    global one over 10 ordered value buckets — the successor to
    k-anonymity / l-diversity (both already in the registry) that
    catches classes whose SENSITIVE-value distribution leaks even when
    diverse. For ordered categories EMD reduces to the mean absolute
    cumulative-probability gap, i.e. two running windows.

    Determinism: the EMD comparison is kept in cross-multiplied integer
    form — |n*cumG - nG*cumAll| sums exactly in BIGINT, one final
    division for display (6dp) and an integer 5x cross-compare for the
    t = 0.2 violation verdict — no float accumulates anywhere.

    Scale shape: two broadcast dim joins, a groupBy on (class, bucket),
    a 10x densification explode, and per-class windows over 10 rows —
    at 100 TB the heavy lifting stays in the first map-side-combined
    groupBy; everything after operates on |classes| x 10 rows."""
    o = (
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.least(F.lit(9), (F.col("o_totalprice") / 60000).cast("int")).alias("bucket"),
        )
    )
    g = o.groupBy("n_name", "bucket").agg(F.count("*").cast("long").alias("cnt"))
    buckets = spark.range(10).select(F.col("id").cast("int").alias("bucket"))
    dense = (
        g.select("n_name").distinct()
        .crossJoin(F.broadcast(buckets))
        .join(g, ["n_name", "bucket"], "left")
        .select("n_name", "bucket", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    from pyspark.sql.window import Window

    w_g = Window.partitionBy("n_name").orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    # RANGE (not ROWS): bucket values repeat across classes in the global
    # cumulative sum, and a ROWS frame would cut arbitrarily inside a tie
    # group — the frame must absorb ALL peer rows of the current bucket.
    w_all = Window.orderBy("bucket").rangeBetween(Window.unboundedPreceding, 0)
    cum = dense.select(
        "n_name",
        "bucket",
        F.sum("cnt").over(w_g).alias("cum_g"),
        F.sum("cnt").over(Window.partitionBy("n_name")).alias("n_g"),
        F.sum("cnt").over(w_all).alias("cum_all"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_all"),
    )
    diff = F.abs(F.col("n_all") * F.col("cum_g") - F.col("n_g") * F.col("cum_all"))
    return (
        cum.where(F.col("bucket") < 9)
        .groupBy("n_name")
        .agg(
            F.max("n_g").cast("long").alias("group_n"),
            F.round(
                F.sum(diff) / (F.max("n_g") * F.max("n_all") * 9), 6
            ).alias("emd"),
            (F.sum(diff) * 5 > F.max("n_g") * F.max("n_all") * 9).alias("t_violation"),
        )
        .orderBy("n_name")
    )


# Integer-scaled trig lookup: cos/sin(2*pi*r/p) * 1e6, rounded, for each
# residue r mod p. Generated ONCE at import and injected as literals into
# BOTH the Spark plan and the oracle SQL, so libm differences between
# engines can never flip a value.
_PERIODS = (7, 14, 30)
_TRIG = [
    (p, r, round(math.cos(2 * math.pi * r / p) * 1e6), round(math.sin(2 * math.pi * r / p) * 1e6))
    for p in _PERIODS
    for r in range(p)
]
_TRIG_VALUES = ", ".join(f"({p}, {r}, {c}, {s})" for p, r, c, s in _TRIG)


@query(
    "events_periodogram",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    span AS (SELECT MIN(day) AS d0, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS BIGINT) AS total FROM daily),
    idx AS (
        SELECT DATEDIFF('day', d0, day) AS t, n * x - total AS dev, n
        FROM daily, span
    ),
    trig(p, r, c, s) AS (VALUES {_TRIG_VALUES})
    SELECT p AS period,
           ROUND(SQRT(CAST(SUM(dev * c) AS DOUBLE) * SUM(dev * c)
                      + CAST(SUM(dev * s) AS DOUBLE) * SUM(dev * s))
                 * 2.0 / (1e6 * MAX(n) * MAX(n)), 4) AS amplitude
    FROM idx JOIN trig ON trig.r = idx.t % trig.p
    GROUP BY p
    ORDER BY p
    """,
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete periodogram at fixed candidate periods (7/14/30 days) —
    the Goertzel/DFT-bin seasonality probe (Schuster 1898, public)
    behind 'is there a weekly cycle?' monitoring. Correlates the
    mean-centered daily count series against one cosine and one sine
    per period and reports the amplitude of the fitted sinusoid in
    events/day units.

    Determinism: trig values are module-generated INTEGER literals
    (cos*1e6 rounded — identical text in the Spark plan and the oracle,
    so no libm divergence is possible); deviations are the exact
    integer n*x - total; dot products accumulate as exact BIGINTs; one
    double sqrt at the end, rounded 4dp.

    Scale shape: groupBy-to-days reduction, then a broadcast join of
    the 51-row trig table on the residue and a 3-group aggregate of
    integer partials — per-series at 100 TB this partitions by metric
    key, and the trig broadcast is shared by every series."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    span = daily.agg(
        F.min("day").alias("d0"),
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("total"),
    )
    idx = daily.crossJoin(F.broadcast(span)).select(
        F.datediff("day", "d0").alias("t"),
        (F.col("n") * F.col("x") - F.col("total")).alias("dev"),
        "n",
    )
    trig = F.broadcast(
        spark.createDataFrame(_TRIG, "p int, r int, c long, s long")
    )
    joined = idx.join(trig, trig.r == idx.t % trig.p)
    sc = F.sum(F.col("dev") * F.col("c"))
    ss = F.sum(F.col("dev") * F.col("s"))
    return (
        joined.groupBy(F.col("p").alias("period"))
        .agg(
            F.round(
                F.sqrt(sc.cast("double") * sc + ss.cast("double") * ss)
                * 2.0
                / (1e6 * F.max("n") * F.max("n")),
                4,
            ).alias("amplitude")
        )
        .orderBy("period")
    )
