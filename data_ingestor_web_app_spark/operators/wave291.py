"""Wave-291: two famous structural laws — the Menzerath-Altmann law
(longer documents use shorter words) fitted on the corpus, and Feld's
friendship paradox (your friends have more friends than you) quantified
per node on the co-occurrence graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_menzerath_fit",
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               LEN(STRING_SPLIT(text, ' ')) AS n_words,
               (OCTET_LENGTH(ENCODE(text))
                - LEN(STRING_SPLIT(text, ' ')) + 1)
                   / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)
                   AS mean_word_len
        FROM documents
    ),
    pts AS (
        SELECT LN(CAST(n_words AS DOUBLE)) AS lx,
               LN(mean_word_len) AS ly
        FROM docs
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               / (SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx)) AS b,
               AVG(ly) - (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
                         / (SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx))
                         * AVG(lx) AS a,
               (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               * (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               / ((SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx))
                  * (SUM(ly * ly) - COUNT(*) * AVG(ly) * AVG(ly))) AS r2
        FROM pts
    )
    SELECT n AS n_docs,
           ROUND(EXP(a), 6) AS menzerath_a,
           ROUND(b, 6) AS menzerath_b,
           ROUND(r2, 6) AS fit_r2,
           b < 0 AS law_direction_holds
    FROM fit
    """,
)
def text_menzerath_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Menzerath-Altmann law (Menzerath 1954; Altmann, Glottometrika
    1980, public): mean constituent size shrinks as construct size
    grows — here mean word length (chars per word, from byte length
    minus separators) against document length in words, fitted as the
    law's power form y = a * x^b by log-log OLS. b < 0 is the law's
    direction (the in-band flag); |b| is the corpus' compression-of-
    parts strength. With Zipf (text_zipf_fit), Heaps
    (text_heaps_law_fit), and adaptation (text_adaptation_church) this
    completes the quantitative-linguistics law panel — four laws, four
    exponents, one corpus.

    Exactness device: word counts and byte lengths are integers; the
    log-log OLS is the standard closed chain; outputs round once.

    Scale shape: one per-doc projection + one moment aggregate."""
    d = table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    mean_len = (F.octet_length("text") - n_words + 1) / n_words.cast(
        "double"
    )
    pts = d.select(
        F.log(n_words.cast("double")).alias("lx"),
        F.log(mean_len).alias("ly"),
    )
    sxx = F.sum(F.col("lx") * F.col("lx")) - F.count("*") * F.avg("lx") * F.avg("lx")
    syy = F.sum(F.col("ly") * F.col("ly")) - F.count("*") * F.avg("ly") * F.avg("ly")
    sxy = F.sum(F.col("lx") * F.col("ly")) - F.count("*") * F.avg("lx") * F.avg("ly")
    fit = pts.agg(
        F.count("*").cast("long").alias("n"),
        (sxy / sxx).alias("b"),
        (F.avg("ly") - (sxy / sxx) * F.avg("lx")).alias("a"),
        (sxy * sxy / (sxx * syy)).alias("r2"),
    )
    return fit.select(
        F.col("n").alias("n_docs"),
        F.round(F.exp("a"), 6).alias("menzerath_a"),
        F.round("b", 6).alias("menzerath_b"),
        F.round("r2", 6).alias("fit_r2"),
        (F.col("b") < 0).alias("law_direction_holds"),
    )


@query(
    "graph_friendship_paradox",
    oracle="""
    WITH buckets AS (
        SELECT DISTINCT user_id, event_type, DATE_TRUNC('minute', ts) AS m
        FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM buckets a
        JOIN buckets b ON b.event_type = a.event_type AND b.m = a.m
                      AND a.user_id < b.user_id
    ),
    und AS (
        SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    deg AS (
        SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS k
        FROM und GROUP BY u
    ),
    nbr AS (
        SELECT e.u AS node, AVG(CAST(d.k AS DOUBLE)) AS mean_friend_deg
        FROM und e JOIN deg d ON d.node = e.v
        GROUP BY e.u
    ),
    per AS (
        SELECT d.node, d.k, n.mean_friend_deg
        FROM deg d JOIN nbr n ON n.node = d.node
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           ROUND(AVG(CAST(k AS DOUBLE)), 6) AS mean_degree,
           ROUND(AVG(mean_friend_deg), 6) AS mean_friend_degree,
           ROUND(AVG(mean_friend_deg) / AVG(CAST(k AS DOUBLE)), 6)
               AS paradox_ratio,
           ROUND(SUM(CASE WHEN mean_friend_deg > k THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS frac_less_popular
    FROM per
    """,
)
def graph_friendship_paradox(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feld's friendship paradox (Feld, AJS 1991, public) on the
    co-occurrence graph: for each node, its degree vs the MEAN degree
    of its neighbors; averaged over nodes the neighbor mean exceeds the
    node mean whenever degrees vary (a Cauchy-Schwarz fact — the
    paradox_ratio > 1 is asserted in the test), and frac_less_popular
    is the share of users literally less connected than their average
    contact. Operationally this is why peer-sampled monitoring
    (sample a NEIGHBOR, not a node) finds hubs early — the sampling
    trick behind friendship-paradox epidemic sensors.

    Exactness device: degrees are integers; neighbor means are exact
    per-node averages via one edge-degree join; the comparison
    mean_friend_deg > k is integer-vs-rational, never float-jittery.

    Scale shape: the standard edge build, one degree rollup, one
    edge-degree join keyed on the neighbor — all shuffle-friendly."""
    e = table(spark, sf_dir, "events")
    buckets = e.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    a = buckets.select(F.col("user_id").alias("u"), "event_type", "m")
    b = buckets.select(F.col("user_id").alias("v"), "event_type", "m")
    edges = (
        a.join(b, ["event_type", "m"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("k")
    )
    nbr = (
        und.join(
            deg.select(F.col("node").alias("v"), F.col("k").alias("kv")),
            "v",
        )
        .groupBy(F.col("u").alias("node"))
        .agg(F.avg(F.col("kv").cast("double")).alias("mean_friend_deg"))
    )
    per = deg.join(nbr, "node")
    return per.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.round(F.avg(F.col("k").cast("double")), 6).alias("mean_degree"),
        F.round(F.avg("mean_friend_deg"), 6).alias("mean_friend_degree"),
        F.round(
            F.avg("mean_friend_deg") / F.avg(F.col("k").cast("double")), 6
        ).alias("paradox_ratio"),
        F.round(
            F.sum(
                F.when(
                    F.col("mean_friend_deg") > F.col("k"), 1.0
                ).otherwise(0)
            )
            / F.count("*"),
            6,
        ).alias("frac_less_popular"),
    )
