"""Wave-85: item-item co-purchase cosine similarity, process-capability
indices (Cp/Cpk), and audience-overlap Jaccard between event types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_item_cosine_topk",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT o_orderkey AS ok, l_partkey AS pk
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    support AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM basket GROUP BY pk
    ),
    cooc AS (
        SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS nab
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
        HAVING COUNT(*) >= 2
    ),
    scored AS (
        SELECT pa, pb, nab,
               ROUND(nab / SQRT(CAST(sa.n * sb.n AS DOUBLE)), 6) AS cosine
        FROM cooc
        JOIN support sa ON sa.pk = pa
        JOIN support sb ON sb.pk = pb
    )
    SELECT pa, pb, nab, cosine, rk FROM (
        SELECT pa, pb, nab, cosine,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, pa, pb) AS rk
        FROM scored) s
    WHERE rk <= 50
    """,
)
def model_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity (Sarwar et al.
    2001 / the Amazon item-to-item paper, public): parts that co-occur
    in the same orders, scored by co-occurrence cosine
    nab / sqrt(na*nb) — the memory-based recommender primitive, with
    the top-50 strongest pairs reported. Complements
    events_association_lift (probability ratio) with the
    vector-geometry score rec-sys actually ranks by.

    Determinism: co-occurrence and support counts are exact BIGINTs;
    cosine is one IEEE sqrt + division; ranking ties break on the
    (pa, pb) pair.

    Scale shape: the pair generation is a self-join keyed on the order
    (co-partitioned, never all-pairs: the fan-out is sum over orders of
    |basket|², the quantity production recsys caps by truncating whale
    baskets); support joins are keyed; top-50 is
    TakeOrderedAndProject."""
    basket = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    support = basket.groupBy("pk").agg(F.count("*").cast("long").alias("n"))
    a = basket.select(F.col("ok"), F.col("pk").alias("pa"))
    b = basket.select(F.col("ok").alias("ok_b"), F.col("pk").alias("pb"))
    cooc = (
        a.join(b, (F.col("ok") == F.col("ok_b")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("nab"))
        .where(F.col("nab") >= 2)
    )
    scored = (
        cooc.join(support.select(F.col("pk").alias("pa"), F.col("n").alias("na")), "pa")
        .join(support.select(F.col("pk").alias("pb"), F.col("n").alias("nb")), "pb")
        .select(
            "pa",
            "pb",
            "nab",
            F.round(
                F.col("nab") / F.sqrt((F.col("na") * F.col("nb")).cast("double")), 6
            ).alias("cosine"),
        )
    )
    # heap top-k first; the ranking window then runs over 50 rows only
    top = scored.orderBy(F.desc("cosine"), F.asc("pa"), F.asc("pb")).limit(50)
    w = Window.orderBy(F.desc("cosine"), F.asc("pa"), F.asc("pb"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "pa", "pb", "nab", "cosine", "rk"
    )


@query(
    "agg_process_capability",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                    AS BIGINT) AS sxx
        FROM lineitem GROUP BY l_returnflag
    ),
    stats AS (
        SELECT l_returnflag, n,
               CAST(sx AS DOUBLE) / n AS mu,
               SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n) AS sigma
        FROM m
    )
    SELECT l_returnflag, n,
           ROUND(mu, 4) AS mean_qty,
           ROUND(sigma, 4) AS sigma_qty,
           ROUND((55.0 - 0.0) / (6 * sigma), 6) AS cp,
           ROUND(LEAST(55.0 - mu, mu - 0.0) / (3 * sigma), 6) AS cpk
    FROM stats
    ORDER BY l_returnflag
    """,
)
def agg_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices Cp and Cpk (SPC, Juran/AIAG, public)
    for order quantities against literal spec limits [0, 55] per return
    class — the manufacturing-quality KPI pair that extends this
    registry's control-chart family (Shewhart I-MR, CUSUM) from
    detection to capability: Cp measures spread vs tolerance, Cpk
    penalizes off-center processes.

    Determinism: quantity moments are exact BIGINTs; mu/sigma and the
    indices are fixed double formulas (population sigma via the
    centered-by-one-division form), rounded.

    Scale shape: one map-side-combined groupBy carrying 3 integer
    partials per class; nothing else moves."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("sx"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        / F.col("n")
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(mu, 4).alias("mean_qty"),
        F.round(sigma, 4).alias("sigma_qty"),
        F.round((55.0 - 0.0) / (6 * sigma), 6).alias("cp"),
        F.round(F.least(F.lit(55.0) - mu, mu - 0.0) / (3 * sigma), 6).alias("cpk"),
    ).orderBy("l_returnflag")


@query(
    "events_audience_overlap",
    oracle="""
    WITH aud AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM aud GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM aud a JOIN aud b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT ta, tb, sa.n AS n_a, sb.n AS n_b, n_both,
           ROUND(n_both * 1.0 / (sa.n + sb.n - n_both), 6) AS jaccard,
           ROUND(n_both * 1.0 / LEAST(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.event_type = ta
    JOIN sizes sb ON sb.event_type = tb
    ORDER BY ta, tb
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: Jaccard and
    containment (overlap coefficient) of the distinct-user sets — the
    audience-dedup question every ads/BI stack answers before merging
    segments ('how much of signup overlaps purchase?'). Exact set
    algebra: |A∩B| from a keyed self-join on user, |A∪B| by
    inclusion-exclusion — never materializing unions.

    Determinism: all set sizes are exact BIGINTs; the two ratios are
    single divisions rounded 6dp; pair ordering is lexicographic.

    Scale shape: distinct-audience is one shuffle on (type, user); the
    intersection self-join is keyed on user_id (fan-out bounded by
    types-per-user, ≤5 here); per-type sizes broadcast back. At 100 TB
    the same question is usually answered approximately with the HLL
    sketches already in this registry (agg_hll_union_rollup) — this is
    the exact mirror."""
    aud = table(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    a = aud.select(F.col("event_type").alias("ta"), "user_id")
    b = aud.select(F.col("event_type").alias("tb"), F.col("user_id").alias("ub"))
    inter = (
        a.join(b, (F.col("user_id") == F.col("ub")) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    return (
        inter.join(sizes.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a")), "ta")
        .join(sizes.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b")), "tb")
        .select(
            "ta",
            "tb",
            "n_a",
            "n_b",
            "n_both",
            F.round(F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both")), 6).alias("jaccard"),
            F.round(F.col("n_both") / F.least("n_a", "n_b"), 6).alias("containment"),
        )
        .orderBy("ta", "tb")
    )
