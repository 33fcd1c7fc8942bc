"""Wave-64: top-N + OTHER bucket, absorbing-chain conversion
probability, synthetic QA span extraction, Mann-Kendall trend test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_topn_other_bucket",
    oracle="""
    WITH per AS (
        SELECT event_type, user_id, COUNT(*) AS n
        FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
        SELECT event_type, user_id, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, user_id) AS rk
        FROM per
    )
    SELECT event_type,
           CASE WHEN rk <= 3 THEN CAST(user_id AS VARCHAR)
                ELSE 'OTHER' END AS bucket,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM ranked
    GROUP BY event_type, CASE WHEN rk <= 3 THEN CAST(user_id AS VARCHAR)
                              ELSE 'OTHER' END
    """,
)
def agg_topn_other_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N with an OTHER bucket — the dashboard cut every BI layer
    renders (named rows for the top-3 users per event type, one
    aggregate row for the long tail) so totals still reconcile to 100%
    while the legend stays readable.

    Scale shape: the raw stream collapses in a map-side-combined
    (type, user) groupBy; the rank window runs per type over user
    aggregates; the OTHER fold is a second tiny groupBy. The long tail
    never materializes row-per-user in the output."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    ranked = per.withColumn("rk", F.row_number().over(w))
    bucket = F.when(F.col("rk") <= 3, F.col("user_id").cast("string")).otherwise(
        "OTHER"
    )
    return ranked.groupBy("event_type", bucket.alias("bucket")).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_users"),
    )


@query(
    "events_absorption_probability",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS s,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS s2
        FROM events
    ),
    counts AS (
        SELECT s, s2, COUNT(*) AS n FROM seq WHERE s2 IS NOT NULL
        GROUP BY s, s2
    ),
    tot AS (SELECT s, CAST(SUM(n) AS BIGINT) AS nt FROM counts GROUP BY s),
    p AS (
        SELECT c.s, c.s2, c.n * 1.0 / t.nt AS pr
        FROM counts c JOIN tot t ON t.s = c.s
    ),
    p1 AS (
        SELECT s, COALESCE(SUM(CASE WHEN s2 = 'purchase' THEN pr END), 0) AS a
        FROM p GROUP BY s
    ),
    p2 AS (
        SELECT p.s,
               p1s.a + COALESCE(SUM(CASE WHEN p.s2 <> 'purchase'
                                    THEN p.pr * p1n.a END), 0) AS a
        FROM p
        JOIN p1 p1s ON p1s.s = p.s
        JOIN p1 p1n ON p1n.s = p.s2
        GROUP BY p.s, p1s.a
    ),
    p3 AS (
        SELECT p.s,
               p1s.a + COALESCE(SUM(CASE WHEN p.s2 <> 'purchase'
                                    THEN p.pr * p2n.a END), 0) AS a
        FROM p
        JOIN p1 p1s ON p1s.s = p.s
        JOIN p2 p2n ON p2n.s = p.s2
        GROUP BY p.s, p1s.a
    )
    SELECT p1.s AS state,
           ROUND(p1.a, 6) AS p_absorb_1,
           ROUND(p2.a, 6) AS p_absorb_2,
           ROUND(p3.a, 6) AS p_absorb_3
    FROM p1 JOIN p2 ON p2.s = p1.s JOIN p3 ON p3.s = p1.s
    WHERE p1.s <> 'purchase'
    """,
)
def events_absorption_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-Markov-chain conversion probability: treating
    'purchase' as the absorbing state, the probability of converting
    within 1, 2, and 3 steps from each starting state — the recurrence
    a_k(s) = P(s->purchase) + sum_{s' != purchase} P(s->s') a_{k-1}(s')
    unrolled as three relational matrix-vector products over the
    5x5 transition aggregate (the closed-form fundamental matrix needs
    a dense inverse; the k-step unroll is the shape that scales and the
    readout product actually wants).

    Determinism: transition probabilities are exact count ratios; each
    step sums <= 4 bounded double terms under 6dp rounding.

    Scale shape: one LAG window on the user shuffle builds transitions;
    everything after operates on a <= 25-row aggregate."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("s2"),
    ).where(F.col("s2").isNotNull())
    counts = seq.groupBy("s", "s2").agg(F.count("*").alias("n"))
    tot = counts.groupBy("s").agg(F.sum("n").cast("long").alias("nt"))
    p = counts.join(tot, "s").select(
        "s", "s2", (F.col("n") * 1.0 / F.col("nt")).alias("pr")
    )
    p1 = p.groupBy("s").agg(
        F.coalesce(
            F.sum(F.when(F.col("s2") == "purchase", F.col("pr"))), F.lit(0.0)
        ).alias("a")
    )

    def step(prev: DataFrame) -> DataFrame:
        prev_n = prev.select(F.col("s").alias("s2"), F.col("a").alias("an"))
        return (
            p.join(p1.select("s", F.col("a").alias("a1")), "s")
            .join(prev_n, "s2")
            .groupBy("s", "a1")
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("s2") != "purchase", F.col("pr") * F.col("an"))
                    ),
                    F.lit(0.0),
                ).alias("tail")
            )
            .select("s", (F.col("a1") + F.col("tail")).alias("a"))
        )

    p2, p3 = step(p1), step(step(p1))
    return (
        p1.select("s", F.col("a").alias("a1"))
        .join(p2.select("s", F.col("a").alias("a2")), "s")
        .join(p3.select("s", F.col("a").alias("a3")), "s")
        .where(F.col("s") != "purchase")
        .select(
            F.col("s").alias("state"),
            F.round("a1", 6).alias("p_absorb_1"),
            F.round("a2", 6).alias("p_absorb_2"),
            F.round("a3", 6).alias("p_absorb_3"),
        )
    )


@query(
    "pipeline_qa_span_extract",
    oracle="""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    flat AS (
        SELECT doc_id, UNNEST(t) AS tok, GENERATE_SUBSCRIPTS(t, 1) AS i
        FROM toks
    ),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM flat GROUP BY tok),
    picked AS (
        SELECT doc_id, tok, i, cnt FROM (
            SELECT f.doc_id, f.tok, f.i, df.cnt,
                   ROW_NUMBER() OVER (PARTITION BY f.doc_id
                                      ORDER BY df.cnt, f.tok, f.i) AS rk
            FROM flat f JOIN df ON df.tok = f.tok
        ) t WHERE rk = 1
    )
    SELECT p.doc_id, p.tok AS answer, CAST(p.i AS INT) AS answer_pos,
           p.cnt AS answer_global_count,
           ARRAY_TO_STRING(
               tk.t[GREATEST(1, p.i - 3):LEAST(LEN(tk.t), p.i + 3)], ' ')
               AS context
    FROM picked p JOIN toks tk ON tk.doc_id = p.doc_id
    """,
)
def pipeline_qa_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic QA-span extraction (the cloze/salient-span-masking
    data-prep behind REALM/T5-SSM, public): per document, pick the
    globally RAREST token as the answer span (rarity = informativeness)
    and cut a +/-3-token context window around its first occurrence —
    (context, answer) pairs manufactured from raw text at corpus scale.

    Determinism: rarity ranks are totally ordered (count, token,
    position); the window slice is integer arithmetic.

    Scale shape: tokens explode once; the global document-frequency
    join is a shuffle on the token string (AQE broadcasts the df side
    when small); the per-doc argmin is one window over that doc's
    tokens; the context slice re-joins the bounded one-row-per-doc pick
    against the token arrays."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    flat = toks.select(
        "doc_id", F.posexplode("t").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    df_counts = flat.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy("cnt", "tok", "i")
    picked = (
        flat.join(df_counts, "tok")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "tok", "i", "cnt")
    )
    start = F.greatest(F.lit(1), F.col("i") - 3)
    stop = F.least(F.size("t"), F.col("i") + 3)
    return picked.join(toks, "doc_id").select(
        "doc_id",
        F.col("tok").alias("answer"),
        F.col("i").cast("int").alias("answer_pos"),
        F.col("cnt").alias("answer_global_count"),
        F.array_join(F.slice("t", start, stop - start + 1), " ").alias("context"),
    )


@query(
    "agg_mann_kendall",
    oracle="""
    WITH m AS (
        SELECT CAST(YEAR(l_shipdate) * 12 + MONTH(l_shipdate) AS BIGINT) AS idx,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(SIGN(b.cents - a.cents)) AS BIGINT) AS s_stat,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM m a JOIN m b ON b.idx > a.idx
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM m),
    ties AS (
        SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0) AS tie_adj
        FROM (SELECT COUNT(*) AS t FROM m GROUP BY cents HAVING COUNT(*) > 1)
    )
    SELECT n.n AS n_months, s.s_stat,
           ROUND((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_adj) / 18.0, 6)
               AS var_s,
           ROUND((s.s_stat - SIGN(s.s_stat))
                 / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_adj) / 18.0),
                 6) AS z,
           CASE WHEN (s.s_stat - SIGN(s.s_stat))
                     / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_adj) / 18.0)
                     > 1.959964 THEN 'increasing'
                WHEN (s.s_stat - SIGN(s.s_stat))
                     / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_adj) / 18.0)
                     < -1.959964 THEN 'decreasing'
                ELSE 'no_trend' END AS verdict
    FROM s, n, ties
    """,
)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945 / Kendall 1975, public) on
    the monthly revenue series: S = sum of pairwise slope signs, tie-
    corrected variance, continuity-corrected z — the NONPARAMETRIC
    companion to agg_theil_sen (Theil-Sen estimates the slope size;
    Mann-Kendall decides whether a monotone trend exists at all, immune
    to outliers and distribution shape).

    Determinism: S and the tie correction are exact integers; z is one
    fixed double formula.

    Scale shape: the fact table collapses to the ~83-row monthly
    aggregate before the O(k^2) sign enumeration — calendar-bounded,
    invariant to data volume."""
    li = table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("long").alias("idx")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    a, b = m.alias("a"), m.alias("b")
    s = a.join(b, F.col("b.idx") > F.col("a.idx")).agg(
        F.sum(F.signum(F.col("b.cents") - F.col("a.cents")))
        .cast("long")
        .alias("s_stat"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    n = m.agg(F.count("*").cast("long").alias("n"))
    ties = (
        m.groupBy("cents")
        .agg(F.count("*").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_adj")
        )
    )
    j = s.crossJoin(n).crossJoin(ties)
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_adj")
    ) / 18.0
    z = (F.col("s_stat") - F.signum(F.col("s_stat"))) / F.sqrt(var_s)
    return j.select(
        F.col("n").alias("n_months"),
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(z > 1.959964, "increasing")
        .when(z < -1.959964, "decreasing")
        .otherwise("no_trend")
        .alias("verdict"),
    )
