"""Wave-89: Newman modularity of the supplier co-sourcing graph,
Horvitz-Thompson design-weighted estimation with exact integer weights,
and a Bloom-filter build/probe audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "graph_modularity",
    oracle="""
    WITH sp AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2
        FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ),
    comm AS (SELECT s_suppkey, s_nationkey FROM supplier),
    labeled AS (
        SELECT e.s1, e.s2, c1.s_nationkey AS n1, c2.s_nationkey AS n2
        FROM edges e
        JOIN comm c1 ON c1.s_suppkey = e.s1
        JOIN comm c2 ON c2.s_suppkey = e.s2
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM labeled),
    within AS (
        SELECT CAST(SUM(CASE WHEN n1 = n2 THEN 1 ELSE 0 END) AS BIGINT) AS e_within
        FROM labeled
    ),
    degs AS (
        SELECT n, CAST(SUM(d) AS BIGINT) AS d_c FROM (
            SELECT n1 AS n, COUNT(*) AS d FROM labeled GROUP BY n1
            UNION ALL
            SELECT n2 AS n, COUNT(*) AS d FROM labeled GROUP BY n2
        ) GROUP BY n
    ),
    dsq AS (SELECT CAST(SUM(d_c * d_c) AS BIGINT) AS sum_dsq,
                   CAST(COUNT(*) AS BIGINT) AS n_comms FROM degs)
    SELECT m.m AS n_edges, n_comms,
           ROUND((4.0 * m.m * e_within - sum_dsq) / (4.0 * m.m * m.m), 6)
               AS modularity
    FROM m, within, dsq
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (2004, public) of the supplier co-sourcing
    graph (edge = two suppliers shipping the same part) partitioned by
    supplier nation: Q = sum_c (e_c/m - (d_c/2m)^2), the community-
    quality score — 'are supply networks nationally clustered?' — and
    the objective Louvain/Leiden optimize; here it AUDITS a given
    partition, the common production use.

    Determinism: edges, within-community counts and degree sums are
    exact BIGINTs; Q is assembled from the single-fraction identity
    (4m·Σe_c − Σd_c²)/(4m²) — one double division, rounded 6dp.

    Scale shape: the edge build self-joins the (supplier, part) list on
    part (fan-out = part degree², the quantity a production graph build
    caps by dropping hub parts); community labels join keyed; degree
    sums are two map-side-combined groupBys. Nothing is all-pairs."""
    sp = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = sp.select(F.col("p"), F.col("s").alias("s1"))
    b = sp.select(F.col("p").alias("pb"), F.col("s").alias("s2"))
    edges = (
        a.join(b, (F.col("p") == F.col("pb")) & (F.col("s1") < F.col("s2")))
        .select("s1", "s2")
        .distinct()
    )
    comm = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    labeled = (
        edges.join(
            F.broadcast(comm.select(F.col("s_suppkey").alias("s1"), F.col("s_nationkey").alias("n1"))),
            "s1",
        )
        .join(
            F.broadcast(comm.select(F.col("s_suppkey").alias("s2"), F.col("s_nationkey").alias("n2"))),
            "s2",
        )
    )
    m_within = labeled.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.when(F.col("n1") == F.col("n2"), 1).otherwise(0)).cast("long").alias("e_within"),
    )
    degs = (
        labeled.select(F.col("n1").alias("n"))
        .union(labeled.select(F.col("n2").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d_c"))
    )
    dsq = degs.agg(
        F.sum(F.col("d_c") * F.col("d_c")).cast("long").alias("sum_dsq"),
        F.count("*").cast("long").alias("n_comms"),
    )
    return m_within.crossJoin(dsq).select(
        F.col("m").alias("n_edges"),
        "n_comms",
        F.round(
            (4.0 * F.col("m") * F.col("e_within") - F.col("sum_dsq"))
            / (4.0 * F.col("m") * F.col("m")),
            6,
        ).alias("modularity"),
    )


@query(
    "sample_horvitz_thompson",
    oracle="""
    WITH frame AS (
        SELECT c_custkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 2
                    WHEN c_mktsegment = 'AUTOMOBILE' THEN 4
                    ELSE 10 END AS w,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(c_custkey AS VARCHAR) || '|ht'),
                                        1, 8)) AS BIGINT) % 10000 AS coin
        FROM customer
    ),
    sampled AS (
        SELECT * FROM frame WHERE coin * w < 10000
    )
    SELECT CAST((SELECT COUNT(*) FROM frame) AS BIGINT) AS n_frame,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(w * cents) AS BIGINT) AS ht_total_cents,
           CAST((SELECT SUM(cents) FROM frame) AS BIGINT) AS true_total_cents,
           ROUND(ABS(SUM(w * cents) - (SELECT SUM(cents) FROM frame)) * 1.0
                 / ABS((SELECT SUM(cents) FROM frame)), 6) AS rel_error
    FROM sampled
    """,
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation (1952, public) under unequal-
    probability sampling: customers enter the sample with inclusion
    probability 1/2, 1/4 or 1/10 by market segment (the hash coin is
    the engine's portable salted MD5), and the population account-
    balance total is estimated as sum(y_i / pi_i) over the sample —
    THE design-weighted estimator behind every stratified telemetry
    rollup that must stay unbiased while sampling hot segments less.

    Determinism: inclusion probabilities are chosen as unit fractions
    so the HT weights (2, 4, 10) are exact integers and the whole
    estimate accumulates in BIGINT cents — no float sum at all; the
    relative-error readout is one division, rounded 6dp.

    Scale shape: sampling is a projection-filter (pushed to the scan);
    both totals are map-side-combined scalar aggregates."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("|ht"))), 1, 8),
        16,
        10,
    ).cast("long")
    frame = table(spark, sf_dir, "customer").select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.when(F.col("c_mktsegment") == "BUILDING", 2)
        .when(F.col("c_mktsegment") == "AUTOMOBILE", 4)
        .otherwise(10)
        .cast("long")
        .alias("w"),
        (h % 10000).alias("coin"),
    )
    totals = frame.agg(
        F.count("*").cast("long").alias("n_frame"),
        F.sum("cents").cast("long").alias("true_total_cents"),
    )
    sampled = frame.where(F.col("coin") * F.col("w") < 10000).agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("ht_total_cents"),
    )
    return sampled.crossJoin(F.broadcast(totals)).select(
        "n_frame",
        "n_sampled",
        "ht_total_cents",
        "true_total_cents",
        F.round(
            F.abs(F.col("ht_total_cents") - F.col("true_total_cents"))
            / F.abs(F.col("true_total_cents")),
            6,
        ).alias("rel_error"),
    )


@query(
    "maintenance_bloom_filter_audit",
    oracle="""
    WITH member AS (
        SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'
    ),
    bits AS (
        SELECT DISTINCT
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(k AS VARCHAR) || '|b' || salt),
                                        1, 8)) AS BIGINT) % 65536 AS pos
        FROM member, (SELECT UNNEST(['0','1','2']) AS salt)
    ),
    probes AS (
        SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'O'
    ),
    probe_pos AS (
        SELECT DISTINCT k,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(k AS VARCHAR) || '|b' || salt),
                                        1, 8)) AS BIGINT) % 65536 AS pos
        FROM probes, (SELECT UNNEST(['0','1','2']) AS salt)
    ),
    verdicts AS (
        SELECT k,
               CAST(COUNT(*) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM probe_pos LEFT JOIN bits USING (pos)
        GROUP BY k
    )
    SELECT CAST((SELECT COUNT(*) FROM member) AS BIGINT) AS n_inserted,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
           ROUND((SELECT COUNT(*) FROM bits) / 65536.0, 6) AS fill_ratio,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS false_positives,
           ROUND(SUM(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS fp_rate
    FROM verdicts
    """,
)
def maintenance_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter build + probe audit (Bloom 1970, public): insert
    all finished-order keys with k=3 salted-MD5 hash positions into an
    m=65536-bit filter, then probe with the disjoint open-order key set
    and measure the realized false-positive rate against the fill ratio
    — the exact accounting every engine does when sizing the join/scan
    Bloom filters it pushes down (join_bloom_runtime uses Spark's
    built-in; this one is white-box and cross-engine reproducible).

    Determinism: bit positions are salted-MD5 integers; membership,
    fill and FP counting are set algebra on BIGINTs; ratios are single
    divisions rounded 6dp.

    Scale shape: the bit set is a distinct-aggregate (bounded by m,
    not by data); probes join the bit set on position — a keyed
    semi-join per salt; no row ever carries more than (key, position)."""
    def positions(df: DataFrame, key: str) -> DataFrame:
        salts = spark.range(3).select(F.col("id").cast("string").alias("salt"))
        return df.crossJoin(F.broadcast(salts)).select(
            F.col(key).alias("k"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col(key).cast("string"), F.lit("|b"), F.col("salt"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 65536
            ).alias("pos"),
        )

    orders = table(spark, sf_dir, "orders")
    member = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    probes = orders.where(F.col("o_orderstatus") == "O").select("o_orderkey")
    bits = positions(member, "o_orderkey").select("pos").distinct()
    probe_pos = positions(probes, "o_orderkey").distinct()
    verdicts = (
        probe_pos.join(bits.withColumn("hit", F.lit(1)), "pos", "left")
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_pos"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    meta = member.agg(F.count("*").cast("long").alias("n_inserted")).crossJoin(
        bits.agg(F.count("*").cast("long").alias("bits_set"))
    )
    res = verdicts.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum(F.when(F.col("n_hit") == F.col("n_pos"), 1).otherwise(0))
        .cast("long")
        .alias("false_positives"),
    )
    return meta.crossJoin(res).select(
        "n_inserted",
        "bits_set",
        F.round(F.col("bits_set") / 65536.0, 6).alias("fill_ratio"),
        "n_probes",
        "false_positives",
        F.round(F.col("false_positives") / F.col("n_probes"), 6).alias("fp_rate"),
    )
