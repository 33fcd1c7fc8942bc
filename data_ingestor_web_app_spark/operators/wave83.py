"""Wave-83: RAKE keyphrase extraction via position islands, exact
isotonic calibration through the minimax formula, and Hodges-Lehmann
robust location estimation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_STOPWORDS = ("the", "a", "is", "of", "to", "and", "in")
_STOP_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    content AS (
        SELECT doc_id, token, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM toks
        WHERE token <> '' AND token NOT IN ({_STOP_SQL})
    ),
    phrases AS (
        SELECT doc_id, grp,
               STRING_AGG(token, ' ' ORDER BY pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen
        FROM content GROUP BY doc_id, grp
    ),
    word_stats AS (
        SELECT c.token,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(p.plen) AS BIGINT) AS degree
        FROM content c
        JOIN phrases p ON p.doc_id = c.doc_id AND p.grp = c.grp
        GROUP BY c.token
    ),
    word_scores AS (
        SELECT token, degree * 1000000 // freq AS score_scaled
        FROM word_stats
    ),
    phrase_scores AS (
        SELECT p.phrase,
               CAST(SUM(ws.score_scaled) AS BIGINT) AS score_scaled,
               CAST(COUNT(*) AS BIGINT) AS n_words
        FROM phrases p
        JOIN content c ON c.doc_id = p.doc_id AND c.grp = p.grp
        JOIN word_scores ws ON ws.token = c.token
        WHERE p.plen >= 2
        GROUP BY p.doc_id, p.grp, p.phrase
    ),
    dedup AS (
        SELECT phrase, MAX(score_scaled) AS score_scaled,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM phrase_scores GROUP BY phrase
    )
    SELECT phrase, ROUND(score_scaled / 1000000.0, 4) AS rake_score,
           n_occurrences, rk
    FROM (SELECT phrase, score_scaled, n_occurrences,
                 ROW_NUMBER() OVER (ORDER BY score_scaled DESC, phrase) AS rk
          FROM dedup) s
    WHERE rk <= 20
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, public): candidate
    phrases are maximal runs of non-stopword tokens (found with the
    gaps-and-islands trick on token positions — pos minus row_number is
    constant within a run), each word scores degree/frequency where
    degree counts co-membership in phrases, and a phrase scores the sum
    of its word scores — the zero-model keyword extractor that still
    anchors document tagging pipelines.

    Determinism: word scores are floor-scaled integers
    (degree*1e6 // freq), so phrase scores are exact BIGINT sums — no
    float accumulation order anywhere; ranking ties break on phrase
    text; multi-occurrence phrases dedup via MAX (scores are identical
    by construction, MAX is just the associative pick).

    Scale shape: tokenize explodes map-side; islands need one window
    per doc (keyed by doc_id — parallel across docs); word stats and
    phrase assembly are keyed groupBys; final top-20 is
    TakeOrderedAndProject."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    content = (
        toks.where((F.col("token") != "") & ~F.col("token").isin(*_STOPWORDS))
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
    )
    phrases = content.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda x: x.token,
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("long").alias("plen"),
    )
    word_stats = (
        content.join(phrases, ["doc_id", "grp"])
        .groupBy("token")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    word_scores = word_stats.select(
        "token",
        F.floor(F.col("degree") * 1000000 / F.col("freq")).cast("long").alias("score_scaled"),
    )
    phrase_scores = (
        phrases.where(F.col("plen") >= 2)
        .join(content, ["doc_id", "grp"])
        .join(word_scores, "token")
        .groupBy("doc_id", "grp", "phrase")
        .agg(
            F.sum("score_scaled").cast("long").alias("score_scaled"),
            F.count("*").cast("long").alias("n_words"),
        )
    )
    dedup = phrase_scores.groupBy("phrase").agg(
        F.max("score_scaled").alias("score_scaled"),
        F.count("*").cast("long").alias("n_occurrences"),
    )
    # heap top-k first; the ranking window then runs over 20 rows only
    top = dedup.orderBy(F.desc("score_scaled"), F.asc("phrase")).limit(20)
    w = Window.orderBy(F.desc("score_scaled"), F.asc("phrase"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "phrase",
        F.round(F.col("score_scaled") / 1000000.0, 4).alias("rake_score"),
        "n_occurrences",
        "rk",
    )


@query(
    "model_isotonic_calibration",
    oracle="""
    WITH x AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS bucket,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    b AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM x GROUP BY bucket
    ),
    cum AS (
        SELECT bucket, n, pos,
               SUM(n) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
               SUM(pos) OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        FROM b
    ),
    pooled AS (
        SELECT j.bucket AS bj, k.bucket AS bk,
               (k.cp - (j.cp - j.pos)) * 1.0 / (k.cn - (j.cn - j.n)) AS avg_jk
        FROM cum j JOIN cum k ON j.bucket <= k.bucket
    ),
    inner_min AS (
        SELECT i.bucket, p.bj, MIN(p.avg_jk) AS m
        FROM cum i JOIN pooled p ON p.bj <= i.bucket AND p.bk >= i.bucket
        GROUP BY i.bucket, p.bj
    ),
    fit AS (
        SELECT bucket, MAX(m) AS iso FROM inner_min GROUP BY bucket
    )
    SELECT b.bucket, b.n,
           ROUND(b.pos * 1.0 / b.n, 6) AS raw_rate,
           ROUND(f.iso, 6) AS iso_rate
    FROM b JOIN fit f USING (bucket)
    ORDER BY b.bucket
    """,
)
def model_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact isotonic regression (PAV solution via the minimax identity
    fit_i = max_{j<=i} min_{k>=i} pooledAvg(j..k); Barlow et al. 1972,
    public) calibrating return rate against the 11 discount levels —
    the monotone-calibration step every scored-model pipeline runs
    before thresholding. The sequential pool-adjacent-violators loop is
    replaced by the closed-form minimax over bucket ranges, which is
    relational: cumulative sums give pooled averages for every (j,k)
    range, then a min-per-(i,j) and a max-per-i.

    Determinism: bucket counts and cumulative sums are exact BIGINTs;
    each pooled average is ONE division (identical doubles in both
    engines, so min/max comparisons agree bitwise); display rounds 6dp.

    Scale shape: the only data-sized operation is the first groupBy to
    11 buckets (map-side combined); the minimax runs over 11 x 66
    range rows — constant work regardless of input scale, the same
    histogram-first strategy distributed isotonic/calibration uses."""
    x = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("bucket"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    b = x.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("pos")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "bucket", "n", "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    )
    j = cum.select(
        F.col("bucket").alias("bj"),
        (F.col("cp") - F.col("pos")).alias("cp_before"),
        (F.col("cn") - F.col("n")).alias("cn_before"),
    )
    k = cum.select(F.col("bucket").alias("bk"), F.col("cp").alias("cp_k"), F.col("cn").alias("cn_k"))
    pooled = j.join(k, F.col("bj") <= F.col("bk")).select(
        "bj",
        "bk",
        ((F.col("cp_k") - F.col("cp_before")) / (F.col("cn_k") - F.col("cn_before"))).alias("avg_jk"),
    )
    i = cum.select(F.col("bucket").alias("bi"))
    inner_min = (
        i.join(pooled, (F.col("bj") <= F.col("bi")) & (F.col("bk") >= F.col("bi")))
        .groupBy("bi", "bj")
        .agg(F.min("avg_jk").alias("m"))
    )
    fit = inner_min.groupBy("bi").agg(F.max("m").alias("iso"))
    return (
        b.join(fit, b.bucket == fit.bi)
        .select(
            "bucket",
            "n",
            F.round(F.col("pos") / F.col("n"), 6).alias("raw_rate"),
            F.round("iso", 6).alias("iso_rate"),
        )
        .orderBy("bucket")
    )


@query(
    "agg_hodges_lehmann",
    oracle="""
    WITH sub AS (
        SELECT event_type, event_id, value FROM events WHERE event_id < 2000
    ),
    pair_means AS (
        SELECT a.event_type, (a.value + b.value) / 2 AS pm
        FROM sub a JOIN sub b
          ON a.event_type = b.event_type AND a.event_id < b.event_id
    ),
    ranked AS (
        SELECT event_type, pm,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY pm) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS m
        FROM pair_means
    )
    SELECT event_type,
           CAST(MAX(m) AS BIGINT) AS n_pairs,
           ROUND(MAX(CASE WHEN rk = (m + 1) // 2 THEN pm END), 4) AS hl_estimate
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimator (1963, public): the median of
    all pairwise means within each event type — the robust 'typical
    value' whose breakdown point beats the mean and whose efficiency
    beats the median, the standard robust-statistics companion to the
    Wilcoxon test (agg_mann_whitney in this registry). Computed on an
    explicitly bounded subset (event_id < 2000) because the pair space
    is quadratic — the same declared-bound discipline as
    sim_pairwise_threshold; at scale the estimator is approximated by
    sampling pairs or binning (a histogram-space convolution), never by
    the full product.

    Determinism: pair means are one exact halving of doubles; the lower
    median picks the VALUE at rank (m+1)//2 of the sorted multiset
    (duplicate-safe: equal values are interchangeable at the selection
    boundary), so no float accumulation exists at all.

    Scale shape: the self-join shuffles on event_type (5 keys — skew
    bounded by the subset), ranking windows partition per type."""
    sub = (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select("event_type", "event_id", "value")
    )
    a = sub.select("event_type", F.col("event_id").alias("ia"), F.col("value").alias("va"))
    b = sub.select(
        F.col("event_type").alias("bt"), F.col("event_id").alias("ib"), F.col("value").alias("vb")
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("bt")) & (F.col("ia") < F.col("ib"))
    ).select("event_type", ((F.col("va") + F.col("vb")) / 2).alias("pm"))
    w = Window.partitionBy("event_type").orderBy("pm")
    ranked = pairs.select(
        "event_type",
        "pm",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("m"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            F.round(
                F.max(F.when(F.col("rk") == F.expr("(m + 1) div 2"), F.col("pm"))), 4
            ).alias("hl_estimate"),
        )
        .orderBy("event_type")
    )
