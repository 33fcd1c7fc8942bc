"""Wave-118: sample entropy of the daily series, priority sampling
(weighted top-k with Horvitz-Thompson threshold weights), and a
hash-bucket skew audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_sample_entropy",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS i,
               LEAD(x, 1) OVER (ORDER BY day) AS x1,
               LEAD(x, 2) OVER (ORDER BY day) AS x2
        FROM daily
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q
        FROM daily
    ),
    tol AS (
        SELECT n, 0.2 * SQRT(CAST(n * q - s * s AS DOUBLE)) / n AS r FROM stats
    ),
    pairs AS (
        SELECT CASE WHEN GREATEST(ABS(a.x - b.x), ABS(a.x1 - b.x1))
                         <= (SELECT r FROM tol) THEN 1 ELSE 0 END AS bmatch,
               CASE WHEN a.x2 IS NOT NULL AND b.x2 IS NOT NULL
                         AND GREATEST(ABS(a.x - b.x), ABS(a.x1 - b.x1),
                                      ABS(a.x2 - b.x2))
                         <= (SELECT r FROM tol) THEN 1 ELSE 0 END AS amatch
        FROM idx a JOIN idx b ON a.i < b.i
        WHERE a.x1 IS NOT NULL AND b.x1 IS NOT NULL
    )
    SELECT (SELECT n FROM tol) AS n_days,
           ROUND((SELECT r FROM tol), 6) AS tolerance_r,
           CAST(SUM(bmatch) AS BIGINT) AS b_matches,
           CAST(SUM(amatch) AS BIGINT) AS a_matches,
           ROUND(CASE WHEN SUM(amatch) > 0
                 THEN -LN(CAST(SUM(amatch) AS DOUBLE) / SUM(bmatch)) END, 6)
               AS sampen
    FROM pairs
    """,
)
def events_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=2, r=0.2*sigma) of the daily event-count
    series (Richman & Moorman 2000, public): the negative log ratio of
    (m+1)-length to m-length template matches under the Chebyshev
    distance — the regularity measure physiology and anomaly detection
    use because (unlike approximate entropy) it excludes self-matches and
    is nearly length-independent. Low SampEn = repetitive/periodic
    traffic; high = irregular.

    Determinism: the series and all pairwise distances are exact
    integers; the tolerance r is one fixed sqrt chain from exact integer
    sums (population sigma), identical in both engines, so every
    comparison resolves identically; SampEn is one log of a count ratio.

    Scale shape: the O(d^2) template self-join runs on the tiny daily
    frame after one map-side-combined collapse of the stream — same
    aggregate-then-quadratic posture as agg_kendall_tau; m stays in lag
    columns (LEAD), never wide arrays."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = Window.orderBy("day")
    idx = daily.select(
        "x",
        F.row_number().over(w).alias("i"),
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
    )
    stats = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    tol = stats.select(
        "n",
        (
            0.2
            * F.sqrt((F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast("double"))
            / F.col("n")
        ).alias("r"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = (
        a.join(b, F.col("a.i") < F.col("b.i"))
        .where(F.col("a.x1").isNotNull() & F.col("b.x1").isNotNull())
        .crossJoin(F.broadcast(tol))
        .select(
            "n",
            "r",
            F.when(
                F.greatest(
                    F.abs(F.col("a.x") - F.col("b.x")),
                    F.abs(F.col("a.x1") - F.col("b.x1")),
                )
                <= F.col("r"),
                1,
            )
            .otherwise(0)
            .alias("bmatch"),
            F.when(
                F.col("a.x2").isNotNull()
                & F.col("b.x2").isNotNull()
                & (
                    F.greatest(
                        F.abs(F.col("a.x") - F.col("b.x")),
                        F.abs(F.col("a.x1") - F.col("b.x1")),
                        F.abs(F.col("a.x2") - F.col("b.x2")),
                    )
                    <= F.col("r")
                ),
                1,
            )
            .otherwise(0)
            .alias("amatch"),
        )
    )
    # n_days / tolerance_r come from the tol frame, not max() over pairs:
    # with < 3 daily rows `pairs` is empty and an agg-side max would yield
    # NULL while the oracle's scalar subquery still reads tol — crossJoin
    # keeps the two engines identical on degenerate input.
    agg = pairs.groupBy().agg(
        F.sum("bmatch").cast("long").alias("b_matches"),
        F.sum("amatch").cast("long").alias("a_matches"),
    )
    return agg.crossJoin(F.broadcast(tol)).select(
        F.col("n").alias("n_days"),
        F.round(F.col("r"), 6).alias("tolerance_r"),
        "b_matches",
        "a_matches",
        F.round(
            F.when(
                F.col("a_matches") > 0,
                -F.log(F.col("a_matches").cast("double") / F.col("b_matches")),
            ),
            6,
        ).alias("sampen"),
    )


@query(
    "sample_priority_topk",
    oracle="""
    WITH pri AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w_cents,
               o_totalprice
               / ((CAST(CONCAT('0x', SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)
                                             || '|pri'), 1, 8)) AS BIGINT) + 1)
                  / 4294967296.0) AS q
        FROM orders
    ),
    ranked AS (
        SELECT o_orderkey, w_cents, q,
               ROW_NUMBER() OVER (ORDER BY q DESC, o_orderkey) AS rn
        FROM pri
    ),
    thresh AS (SELECT q AS tau FROM ranked WHERE rn = 11)
    SELECT rn AS rank, o_orderkey,
           ROUND(w_cents / 100.0, 2) AS weight,
           ROUND(q, 4) AS priority,
           ROUND((SELECT tau FROM thresh), 4) AS threshold,
           ROUND(GREATEST(w_cents / 100.0, (SELECT tau FROM thresh)), 4)
               AS ht_weight
    FROM ranked WHERE rn <= 10
    """,
)
def sample_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007, public): each
    order draws a deterministic uniform u from an md5 hash of its key,
    gets priority q = weight/u, and the k=10 highest-priority items are
    the sample; the (k+1)-th priority tau is the threshold, and
    max(weight, tau) is the Horvitz-Thompson-style estimator weight that
    makes subset-sum estimates unbiased — the standard one-pass weighted
    sample for flow accounting and heavy-hitter budgets.

    Determinism: u is a pure hash function of the key, q is ONE IEEE
    division (correctly rounded in any engine, unlike ln/pow chains),
    ranking breaks ties by orderkey, and readouts round at 4dp.

    Scale shape: priorities compute scan-side with no shuffle; top-(k+1)
    is a TakeOrderedAndProject heap (per-partition top-11, merged on the
    driver), then the threshold join touches 11 rows. The full sort in
    the oracle is the semantic spec, not the physical plan."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("|pri"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    pri = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("w_cents"),
        (F.col("o_totalprice") / ((h + 1) / F.lit(4294967296.0))).alias("q"),
    )
    top11 = pri.orderBy(F.col("q").desc(), "o_orderkey").limit(11)
    wr = Window.orderBy(F.col("q").desc(), "o_orderkey")
    ranked = top11.select(
        "o_orderkey", "w_cents", "q", F.row_number().over(wr).alias("rn")
    )
    tau = ranked.where(F.col("rn") == 11).select(F.col("q").alias("tau"))
    return (
        ranked.where(F.col("rn") <= 10)
        .crossJoin(F.broadcast(tau))
        .select(
            F.col("rn").alias("rank"),
            "o_orderkey",
            F.round(F.col("w_cents") / 100.0, 2).alias("weight"),
            F.round("q", 4).alias("priority"),
            F.round("tau", 4).alias("threshold"),
            F.round(F.greatest(F.col("w_cents") / 100.0, F.col("tau")), 4).alias(
                "ht_weight"
            ),
        )
    )


@query(
    "dq_bucket_skew_audit",
    oracle="""
    WITH bucketed AS (
        SELECT CAST(CONCAT('0x', SUBSTR(MD5(CAST(l_orderkey AS VARCHAR)
                                        || '|skew'), 1, 8)) AS BIGINT) % 32
                   AS bucket
        FROM lineitem
    ),
    per AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM bucketed GROUP BY bucket
    ),
    ranked AS (
        SELECT bucket, c, ROW_NUMBER() OVER (ORDER BY c DESC, bucket) AS rn
        FROM per
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MIN(c) AS BIGINT) AS min_rows,
           CAST(MAX(c) AS BIGINT) AS max_rows,
           ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 2) AS avg_rows,
           ROUND(MAX(c) / (CAST(SUM(c) AS DOUBLE) / COUNT(*)), 6)
               AS imbalance_ratio,
           ROUND(SQRT(CAST(COUNT(*) * SUM(c * c) - SUM(c) * SUM(c) AS DOUBLE))
                 / SUM(c), 6) AS cv,
           CAST(MAX(CASE WHEN rn = 1 THEN bucket END) AS BIGINT) AS hottest_bucket
    FROM ranked
    """,
)
def dq_bucket_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-bucket skew audit: hash lineitem keys into 32 buckets with
    a portable md5-derived hash (the engine's cross-engine uniform-hash
    convention) and report the bucket-size distribution — max/avg
    imbalance ratio and coefficient of variation — the exact diagnostic a
    shuffle planner needs before choosing salting or AQE skew splitting.
    An imbalance ratio near 1 certifies the key is safe to shuffle on; a
    hot bucket names the salt target.

    Determinism: bucket ids and counts are exact integers; CV comes from
    exact integer sums (sqrt(n*Q - S^2)/S); the hottest bucket is
    rank-selected with a bucket-id tie-break.

    Scale shape: one map-side-combined groupBy on the derived bucket —
    the audit costs one pass and 32 rows of state regardless of input
    size; at 100 TB this runs as a cheap pre-flight on a sample or full
    scan before the real shuffle."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("l_orderkey").cast("string"), F.lit("|skew"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    per = (
        table(spark, sf_dir, "lineitem")
        .select((h % 32).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ranked = per.select(
        "bucket",
        "c",
        F.row_number().over(Window.orderBy(F.col("c").desc(), "bucket")).alias("rn"),
    )
    return ranked.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.min("c").alias("min_rows"),
        F.max("c").alias("max_rows"),
        F.round(F.sum("c").cast("double") / F.count("*"), 2).alias("avg_rows"),
        F.round(
            F.max("c") / (F.sum("c").cast("double") / F.count("*")), 6
        ).alias("imbalance_ratio"),
        F.round(
            F.sqrt(
                (
                    F.count("*") * F.sum(F.col("c") * F.col("c"))
                    - F.sum("c") * F.sum("c")
                ).cast("double")
            )
            / F.sum("c"),
            6,
        ).alias("cv"),
        F.max(F.when(F.col("rn") == 1, F.col("bucket"))).cast("long").alias(
            "hottest_bucket"
        ),
    )
