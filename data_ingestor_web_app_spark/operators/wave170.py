"""Wave-170: partition quality and normality testing — conductance of
the brand partition on the co-purchase graph, and the Jarque-Bera
normality test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.operators.wave158 import _EDGES_SQL
from data_ingestor_web_app_spark.registry import query


@query(
    "graph_conductance_partition",
    oracle=f"""
    WITH {_EDGES_SQL},
    lbl AS (
        SELECT p_partkey AS u, p_brand AS com FROM part
    ),
    tagged AS (
        SELECT e.u, e.v, lu.com AS cu, lv.com AS cv
        FROM e JOIN lbl lu ON lu.u = e.u JOIN lbl lv ON lv.u = e.v
    ),
    vol AS (
        SELECT com, CAST(SUM(cnt) AS BIGINT) AS volume FROM (
            SELECT cu AS com, COUNT(*) AS cnt FROM tagged GROUP BY cu
            UNION ALL
            SELECT cv AS com, COUNT(*) AS cnt FROM tagged GROUP BY cv
        ) both_ends GROUP BY com
    ),
    cut AS (
        SELECT com, CAST(SUM(x) AS BIGINT) AS cut_edges FROM (
            SELECT cu AS com, CASE WHEN cu <> cv THEN 1 ELSE 0 END AS x FROM tagged
            UNION ALL
            SELECT cv AS com, CASE WHEN cu <> cv THEN 1 ELSE 0 END AS x FROM tagged
        ) both_sides GROUP BY com
    ),
    m AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS vol_total FROM tagged)
    SELECT v.com AS community, v.volume, c.cut_edges,
           ROUND(c.cut_edges * 1e0
                 / LEAST(v.volume, (SELECT vol_total FROM m) - v.volume), 6)
               AS conductance
    FROM vol v JOIN cut c ON c.com = v.com
    WHERE LEAST(v.volume, (SELECT vol_total FROM m) - v.volume) > 0
    """,
)
def graph_conductance_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance (Kannan, Vempala & Vetta 2004, public) of
    the BRAND partition on the co-purchase graph: φ(S) = cut(S) /
    min(vol(S), vol(V∖S)) — the fraction of a community's edge endpoints
    that leak outside it, THE partition-quality number behind spectral
    clustering and community evaluation. Brands are the natural candidate
    partition here; high conductance (≈1) means brand does NOT cluster
    co-purchases — itself a finding.

    Determinism: volumes and cuts are exact edge-endpoint counts; one
    rounded division.

    Scale shape: label the edge list once (two dim joins), then two
    endpoint-exploded groupBys — never materializes communities as row
    sets."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count_distinct("a.l_orderkey").alias("no"))
        .where(F.col("no") >= 2)
        .select("u", "v")
    )
    lbl = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), F.col("p_brand").alias("com")
    )
    tagged = (
        e.join(F.broadcast(lbl.withColumnRenamed("k", "u").withColumnRenamed("com", "cu")), "u")
        .join(F.broadcast(lbl.withColumnRenamed("k", "v").withColumnRenamed("com", "cv")), "v")
    )
    ends = tagged.select(F.col("cu").alias("com"), (F.col("cu") != F.col("cv")).cast("int").alias("x")).unionAll(
        tagged.select(F.col("cv").alias("com"), (F.col("cu") != F.col("cv")).cast("int").alias("x"))
    )
    per = ends.groupBy("com").agg(
        F.count("*").cast("long").alias("volume"),
        F.sum("x").cast("long").alias("cut_edges"),
    )
    m = tagged.agg((2 * F.count("*")).cast("long").alias("vol_total"))
    denom = F.least(F.col("volume"), F.col("vol_total") - F.col("volume"))
    return (
        per.crossJoin(F.broadcast(m))
        .where(denom > 0)
        .select(
            F.col("com").alias("community"),
            "volume",
            "cut_edges",
            F.round(F.col("cut_edges") * F.lit(1.0) / denom, 6).alias("conductance"),
        )
    )


@query(
    "agg_jarque_bera",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SKEWNESS(value) * (COUNT(*) - 2) * 1e0
                   / SQRT(COUNT(*) * (COUNT(*) - 1e0)) AS g1,
               (KURTOSIS(value)
                    * ((COUNT(*) - 2e0) * (COUNT(*) - 3e0))
                    / ((COUNT(*) + 1e0) * (COUNT(*) - 1e0))
                + 3e0 * (COUNT(*) - 1e0) / (COUNT(*) + 1e0)) - 3e0 AS g2
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(g1, 6) AS skew_pop,
           ROUND(g2, 6) AS excess_kurtosis_pop,
           ROUND(n / 6e0 * (g1 * g1 + g2 * g2 / 4), 6) AS jb_stat,
           n / 6e0 * (g1 * g1 + g2 * g2 / 4) > 5.991464547107979 AS reject_normal
    FROM s
    """,
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test (Jarque & Bera 1980, public): JB =
    n/6·(S² + K²/4) from population skewness S and excess kurtosis K —
    asymptotically χ²(2), so JB > 5.99 rejects normality at 5%. The
    moment-based screen run before any Gaussian-assuming model; per event
    type here.

    Moment parity: Spark's `skewness`/`kurtosis` are population g1 and
    excess-kurtosis g2; DuckDB's are the SAMPLE G1/G2 — the oracle
    inverts both corrections so the identical population moments enter
    JB (the wave-162 Cornish-Fisher precedent extended to kurtosis).
    The rejection boolean compares unrounded doubles far from the
    threshold edge.

    Scale shape: one map-side-combinable moment pass per group."""
    e = table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.skewness("value").alias("g1"),
        (F.kurtosis("value")).alias("g2"),
    )
    jb = F.col("n") / 6.0 * (
        F.col("g1") * F.col("g1") + F.col("g2") * F.col("g2") / 4
    )
    return s.select(
        "event_type",
        "n",
        F.round("g1", 6).alias("skew_pop"),
        F.round("g2", 6).alias("excess_kurtosis_pop"),
        F.round(jb, 6).alias("jb_stat"),
        (jb > 5.991464547107979).alias("reject_normal"),
    )
