"""Wave-217: KMV (theta-sketch) SET OPERATIONS — union / intersection /
Jaccard estimates between two user populations from k-minimum-value
sketches — and Spark's parameterized SQL binding surface.

The sketch family (HLL, KMV distinct, count-min, Bloom, space-saving)
covered single-set cardinality; theta-style KMV sketches are the one
that supports SET ALGEBRA: keep the k smallest hash values per set,
merge by taking the k smallest of the union, and estimate any boolean
combination inside the merged theta. Everything here is md5-exact, so
the estimates are bit-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 64  # sketch size
_MAXH = float(16**12)  # hash domain: 48-bit md5 prefix


def _hexfold_sql(expr: str, nhex: int) -> str:
    terms = " + ".join(
        f"(STRPOS('0123456789abcdef', SUBSTR(MD5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (nhex - 1 - i)}"
        for i in range(nhex)
    )
    return f"CAST({terms} AS BIGINT)"


@query(
    "agg_kmv_set_ops",
    oracle=f"""
    WITH pop AS (
        SELECT DISTINCT user_id,
               CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END
                   AS side
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    hashed AS (
        SELECT side, user_id,
               {_hexfold_sql("CAST(user_id AS VARCHAR)", 12)} AS h
        FROM pop
    ),
    sk AS (
        SELECT side, user_id, h FROM (
            SELECT side, user_id, h,
                   ROW_NUMBER() OVER (PARTITION BY side
                                      ORDER BY h, user_id) AS rn
            FROM hashed) WHERE rn <= {_K}
    ),
    merged AS (
        SELECT h, user_id FROM (
            SELECT h, user_id,
                   ROW_NUMBER() OVER (ORDER BY h, user_id) AS rn
            FROM (SELECT DISTINCT h, user_id FROM sk))
        WHERE rn <= {_K}
    ),
    theta AS (SELECT CAST(MAX(h) AS BIGINT) AS kth FROM merged),
    flags AS (
        SELECT m.h,
               MAX(CASE WHEN s.side = 'a' THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.side = 'b' THEN 1 ELSE 0 END) AS in_b
        FROM merged m JOIN sk s ON s.h = m.h AND s.user_id = m.user_id
        GROUP BY m.h
    ),
    est AS (
        SELECT CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM flags
    ),
    truth AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN side = 'a' THEN user_id END)
                    AS BIGINT) AS true_a,
               CAST(COUNT(DISTINCT CASE WHEN side = 'b' THEN user_id END)
                    AS BIGINT) AS true_b,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_union
        FROM pop
    )
    SELECT t.true_a, t.true_b, t.true_union,
           -- exhaustive mode: fewer than k members means the sketch IS
           -- the set, so the estimate is exact
           ROUND(CASE WHEN e.n_kept < {_K} THEN CAST(e.n_kept AS DOUBLE)
                      ELSE ({_K} - 1) * {_MAXH} / th.kth END, 6)
               AS union_est,
           ROUND(e.n_both
                 * (CASE WHEN e.n_kept < {_K}
                         THEN CAST(e.n_kept AS DOUBLE)
                         ELSE ({_K} - 1) * {_MAXH} / th.kth END)
                 / e.n_kept, 6) AS intersection_est,
           ROUND(e.n_both / CAST(e.n_kept AS DOUBLE), 6) AS jaccard_est
    FROM est e, theta th, truth t
    """,
)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra between the purchaser and clicker user
    populations: each side keeps its {_K} minimum md5 hash values; the
    merged sketch is the {_K} smallest of the union with theta = its
    k-th value; union cardinality = (k-1)*MAXH/theta (the classic KMV
    estimator), and any boolean combination — here the intersection and
    Jaccard — is estimated by the FRACTION of merged sample members
    satisfying it, scaled by the union estimate. This is how audience-
    overlap questions get answered at 100 TB with {_K} rows per segment
    instead of a distinct-count join, and the sketches merge
    associatively across partitions/days.

    Determinism: hashes are exact 48-bit md5 integer folds with user-id
    tie-breaks everywhere; the estimator arithmetic is a fixed double
    expression; true cardinalities ride along for error inspection.

    Scale shape: per-side top-k by hash is TakeOrdered (map-side heaps);
    everything after operates on <= 2*{_K} rows."""
    events = table(spark, sf_dir, "events")
    pop = (
        events.where(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", "a")
            .otherwise("b")
            .alias("side"),
        )
        .distinct()
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    hashed = pop.select("side", "user_id", h.alias("h"))
    sk = (
        hashed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("side").orderBy("h", "user_id")
            ),
        )
        .where(F.col("rn") <= _K)
        .drop("rn")
    )
    merged = (
        sk.select("h", "user_id")
        .distinct()
        .orderBy("h", "user_id")
        .limit(_K)
    )
    theta = merged.agg(F.max("h").alias("kth"))
    flags = (
        merged.join(sk, ["h", "user_id"])
        .groupBy("h")
        .agg(
            F.max(F.when(F.col("side") == "a", 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("side") == "b", 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    est = flags.agg(
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
        F.count("*").cast("long").alias("n_kept"),
    )
    truth = pop.agg(
        F.countDistinct(F.when(F.col("side") == "a", F.col("user_id")))
        .cast("long")
        .alias("true_a"),
        F.countDistinct(F.when(F.col("side") == "b", F.col("user_id")))
        .cast("long")
        .alias("true_b"),
        F.countDistinct("user_id").cast("long").alias("true_union"),
    )
    # exhaustive mode: a sketch smaller than k IS the set — exact count
    union_est = F.when(
        F.col("n_kept") < _K, F.col("n_kept").cast("double")
    ).otherwise((F.lit(_K) - 1) * F.lit(_MAXH) / F.col("kth"))
    return (
        est.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(truth))
        .select(
            "true_a",
            "true_b",
            "true_union",
            F.round(union_est, 6).alias("union_est"),
            F.round(
                F.col("n_both") * union_est / F.col("n_kept"), 6
            ).alias("intersection_est"),
            F.round(
                F.col("n_both") / F.col("n_kept").cast("double"), 6
            ).alias("jaccard_est"),
        )
    )


@query(
    "sql_parameterized_query",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events
    WHERE value >= 10.0 AND value < 100.0
      AND event_type IN ('purchase', 'click')
    GROUP BY event_type ORDER BY event_type
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark parameterized SQL (3.4+ surface): the same aggregation
    bound twice — once with NAMED parameters (:lo, :hi) and once with
    the typed-literal args dict — proving the binding path produces the
    plan of the inlined query. Parameter binding is the injection-safe
    API every multi-tenant SQL gateway needs; this registers the surface
    itself as a tested operator.

    Determinism: parameters are exact literals; the aggregation rounds
    once.

    Scale shape: identical to the inlined query — binding happens at
    parse time, so pushdown/pruning are unaffected."""
    events = table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events_param_v")
    df = spark.sql(
        """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 2) AS total
        FROM events_param_v
        WHERE value >= :lo AND value < :hi
          AND event_type IN (:t1, :t2)
        GROUP BY event_type ORDER BY event_type
        """,
        args={"lo": 10.0, "hi": 100.0, "t1": "purchase", "t2": "click"},
    )
    return df
