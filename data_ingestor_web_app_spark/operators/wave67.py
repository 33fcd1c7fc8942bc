"""Wave-67: Tukey-fence outlier audit, market-basket association lift,
token-embedding pooling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_tukey_outliers",
    oracle="""
    WITH c AS (
        SELECT c_mktsegment AS segment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    q AS (
        SELECT segment,
               QUANTILE_CONT(cents, 0.25) AS q1,
               QUANTILE_CONT(cents, 0.75) AS q3,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM c GROUP BY segment
    )
    SELECT q.segment, q.n,
           ROUND(q.q1 / 100.0, 4) AS q1_usd,
           ROUND(q.q3 / 100.0, 4) AS q3_usd,
           CAST(SUM(CASE WHEN c.cents < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR c.cents > q.q3 + 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN c.cents < q.q1 - 3.0 * (q.q3 - q.q1)
                           OR c.cents > q.q3 + 3.0 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
    FROM q JOIN c ON c.segment = q.segment
    GROUP BY q.segment, q.n, q.q1, q.q3
    """,
)
def agg_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit (the boxplot rule, Tukey 1977, public)
    per market segment: quartiles of account balance, then counts
    beyond the 1.5-IQR (outlier) and 3-IQR (far-out) fences — the
    robust screen that, unlike z-scores, isn't dragged by the very
    outliers it hunts.

    Determinism: quartiles interpolate identically in both engines
    (same a + f*(b-a) rule on exact integer cents); fence comparisons
    pit exact ints against one fixed double.

    Scale shape: quartiles aggregate per segment; the fence count is a
    second map-side-combined pass joined against the 5-row quartile
    table (broadcast)."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    q = c.groupBy("segment").agg(
        F.expr("percentile(cents, 0.25)").alias("q1"),
        F.expr("percentile(cents, 0.75)").alias("q3"),
        F.count("*").cast("long").alias("n"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("cents") < F.col("q1") - 1.5 * iqr) | (
        F.col("cents") > F.col("q3") + 1.5 * iqr
    )
    far = (F.col("cents") < F.col("q1") - 3.0 * iqr) | (
        F.col("cents") > F.col("q3") + 3.0 * iqr
    )
    return (
        c.join(F.broadcast(q), "segment")
        .groupBy("segment", "n", "q1", "q3")
        .agg(
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.sum(F.when(far, 1).otherwise(0)).cast("long").alias("n_extreme"),
        )
        .select(
            "segment",
            "n",
            F.round(F.col("q1") / 100.0, 4).alias("q1_usd"),
            F.round(F.col("q3") / 100.0, 4).alias("q3_usd"),
            "n_outliers",
            "n_extreme",
        )
    )


@query(
    "events_association_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        FROM events
    ),
    baskets AS (SELECT CAST(COUNT(DISTINCT (user_id, d)) AS BIGINT) AS nb
                FROM items),
    singles AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM items
        GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS ante, b.event_type AS cons,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON b.user_id = a.user_id AND b.d = a.d
         AND b.event_type > a.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.ante, p.cons, p.n_ab,
           ROUND(p.n_ab * 1.0 / bk.nb, 6) AS support,
           ROUND(p.n_ab * 1.0 / sa.n, 6) AS confidence,
           ROUND(bk.nb * 1.0 * p.n_ab / (sa.n * sc.n), 6) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.ante
    JOIN singles sc ON sc.event_type = p.cons
    CROSS JOIN baskets bk
    """,
)
def events_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal et al., SIGMOD'93,
    public) over (user, day) baskets of event types: support,
    confidence, and lift per unordered type pair — lift > 1 means the
    pair co-occurs beyond chance (the cross-sell / feature-coupling
    signal), < 1 means the behaviors repel.

    Determinism: all three metrics are exact integer ratios.

    Scale shape: baskets dedup in one map-side-combined distinct; the
    pair join is per-basket (<= C(5,2) = 10 pairs each, co-partitioned
    on the basket key); singles and the basket count broadcast into the
    25-row readout."""
    e = table(spark, sf_dir, "events")
    items = e.select(
        "user_id", F.col("ts").cast("date").alias("d"), "event_type"
    ).distinct()
    # basket count folded in as a 1-row broadcast (no build-time job)
    nbf = items.select("user_id", "d").distinct().agg(
        F.count("*").cast("long").alias("nb")
    )
    singles = items.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.d") == F.col("a.d"))
            & (F.col("b.event_type") > F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ante"), F.col("b.event_type").alias("cons")
        )
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    sa = singles.select(F.col("event_type").alias("ante"), F.col("n").alias("na"))
    sc = singles.select(F.col("event_type").alias("cons"), F.col("n").alias("nc"))
    return (
        pairs.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sc), "cons")
        .crossJoin(F.broadcast(nbf))
        .select(
            "ante",
            "cons",
            "n_ab",
            F.round(F.col("n_ab") * 1.0 / F.col("nb"), 6).alias("support"),
            F.round(F.col("n_ab") * 1.0 / F.col("na"), 6).alias("confidence"),
            F.round(
                F.col("nb") * 1.0 * F.col("n_ab")
                / (F.col("na") * F.col("nc")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "sim_token_pooling",
    oracle="""
    WITH ue AS (
        SELECT vec_id, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings WHERE vec_id < 100
    ),
    shaped AS (
        SELECT vec_id,
               CAST((i - 1) // 8 AS INT) AS tok,
               CAST((i - 1) % 8 AS INT) AS dim,
               CAST(x AS DOUBLE) AS x
        FROM ue
    )
    SELECT vec_id, dim,
           ROUND(AVG(x), 6) AS mean_pool,
           ROUND(MAX(x), 6) AS max_pool,
           ROUND(MAX(CASE WHEN tok = 0 THEN x END), 6) AS cls_pool
    FROM shaped GROUP BY vec_id, dim
    """,
)
def sim_token_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-embedding pooling (the BERT-era sentence-vector recipes,
    public): each 64-d vector is reshaped as 8 tokens x 8 dims and
    pooled three ways — mean (the robust default), max (salient-feature
    detector), and CLS/first-token — emitted long-form per (vec, dim).
    This is the reshape-and-reduce plumbing every embedding pipeline
    runs between the encoder and the index.

    Determinism: reshape indices are integer arithmetic; mean is a sum
    of 8 floats cast to double, rounded at 6dp.

    Scale shape: posexplode + one (vec, dim) map-side-combined groupBy;
    no join, no window."""
    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    shaped = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "vec_id",
        (F.col("i0") / 8).cast("int").alias("tok"),
        (F.col("i0") % 8).cast("int").alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    return shaped.groupBy("vec_id", "dim").agg(
        F.round(F.avg("x"), 6).alias("mean_pool"),
        F.round(F.max("x"), 6).alias("max_pool"),
        F.round(F.max(F.when(F.col("tok") == 0, F.col("x"))), 6).alias("cls_pool"),
    )
