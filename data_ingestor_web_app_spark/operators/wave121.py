"""Wave-121: MAP/MRR retrieval evaluation in exact LCM-scaled integers,
Gries' deviation-of-proportions token dispersion, and interval
coalescing (merge overlapping activity windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# LCM(1..10) = 2520: P@k = cum_rel/k becomes the exact integer
# cum_rel * (2520/k), so average precision needs no float sums.
_LCM = 2520


@query(
    "model_map_mrr_retrieval",
    oracle=f"""
    WITH qe AS (SELECT vec_id AS qid, label AS qlabel, embedding AS e
                FROM embeddings WHERE vec_id < 20),
    ue AS (SELECT vec_id, UNNEST(embedding) AS x,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i FROM embeddings),
    norms AS (SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  AS nrm
              FROM ue GROUP BY vec_id),
    qx AS (SELECT qid, UNNEST(e) AS x, GENERATE_SUBSCRIPTS(e, 1) AS i FROM qe),
    dots AS (SELECT q.qid, u.vec_id AS nid,
                    SUM(CAST(q.x AS DOUBLE) * CAST(u.x AS DOUBLE)) AS dot
             FROM qx q JOIN ue u ON u.i = q.i AND u.vec_id <> q.qid
             GROUP BY q.qid, u.vec_id),
    ranked AS (
        SELECT d.qid, d.nid,
               ROW_NUMBER() OVER (PARTITION BY d.qid
                                  ORDER BY ROUND(d.dot / (nq.nrm * nn.nrm), 6)
                                           DESC, d.nid) AS rk,
               CASE WHEN en.label = q.qlabel THEN 1 ELSE 0 END AS rel
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.qid
        JOIN norms nn ON nn.vec_id = d.nid
        JOIN embeddings en ON en.vec_id = d.nid
        JOIN qe q ON q.qid = d.qid
    ),
    top AS (
        SELECT qid, rk, rel,
               SUM(rel) OVER (PARTITION BY qid ORDER BY rk) AS cum_rel
        FROM ranked WHERE rk <= 10
    )
    SELECT qid,
           CAST(SUM(rel) AS BIGINT) AS n_rel,
           CAST(SUM(rel * cum_rel * ({_LCM} // rk)) AS BIGINT) AS ap_scaled,
           ROUND(CASE WHEN SUM(rel) > 0
                 THEN CAST(SUM(rel * cum_rel * ({_LCM} // rk)) AS DOUBLE)
                      / ({_LCM} * SUM(rel)) END, 6) AS avg_precision,
           CAST(MIN(CASE WHEN rel = 1 THEN rk END) AS BIGINT) AS first_rel_rank,
           ROUND(CASE WHEN SUM(rel) > 0
                 THEN 1.0 / MIN(CASE WHEN rel = 1 THEN rk END) END, 6)
               AS reciprocal_rank
    FROM top GROUP BY qid
    """,
)
def model_map_mrr_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision and reciprocal rank at 10 (the MAP/MRR panel of
    retrieval evaluation, public) for brute-force cosine ranking against
    same-label relevance — the set-based companions to
    model_ndcg_retrieval's graded metric, sharing its exact ranking
    convention so the three metrics are comparable per query.

    Determinism: P@k = cum_rel/k is scaled by LCM(1..10) = 2520 into
    exact integers, so AP's sum is a BIGINT and only the final
    normalization divides; the first relevant rank is an integer MIN and
    RR one literal division.

    Scale shape: identical to model_ndcg_retrieval — broadcast query
    side, per-query top-10 window state, no corpus self-shuffle; the
    running cum_rel is a 10-row window per query."""
    from data_ingestor_web_app_spark.llm.vector_common import dot, norm

    e = table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    cos = F.round(
        dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    wcum = Window.partitionBy("qid").orderBy("rk")
    top = (
        pairs.select(
            "qid",
            F.col("vec_id").alias("nid"),
            cos.alias("cosine"),
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .withColumn("cum_rel", F.sum("rel").over(wcum))
    )
    ap_scaled = F.sum(
        F.col("rel") * F.col("cum_rel") * (_LCM / F.col("rk")).cast("long")
    )
    first_rel = F.min(F.when(F.col("rel") == 1, F.col("rk")))
    return top.groupBy("qid").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        ap_scaled.cast("long").alias("ap_scaled"),
        F.round(
            F.when(
                F.sum("rel") > 0,
                ap_scaled.cast("double") / (_LCM * F.sum("rel")),
            ),
            6,
        ).alias("avg_precision"),
        first_rel.cast("long").alias("first_rel_rank"),
        F.round(F.when(F.sum("rel") > 0, 1.0 / first_rel), 6).alias(
            "reciprocal_rank"
        ),
    )


@query(
    "text_burstiness_dp",
    oracle="""
    WITH toks AS (
        SELECT d.doc_id, t.tok
        FROM documents d, UNNEST(STRING_SPLIT(d.text, ' ')) AS t(tok)
    ),
    doc_sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id
    ),
    corpus AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM doc_sizes),
    tok_totals AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS t FROM toks GROUP BY tok
    ),
    top_toks AS (
        SELECT tok, t FROM (
            SELECT tok, t, ROW_NUMBER() OVER (ORDER BY t DESC, tok) AS rn
            FROM tok_totals) WHERE rn <= 15
    ),
    per_doc AS (
        SELECT tt.tok, tt.t, ds.doc_id, ds.n,
               COALESCE(c.c, 0) AS c
        FROM top_toks tt
        CROSS JOIN doc_sizes ds
        LEFT JOIN (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY doc_id, tok
        ) c ON c.doc_id = ds.doc_id AND c.tok = tt.tok
    )
    SELECT tok,
           CAST(t AS BIGINT) AS tok_total,
           CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(ABS(c * (SELECT total FROM corpus) - n * t))
                      AS DOUBLE)
                 / (2.0 * t * (SELECT total FROM corpus)), 6) AS dp
    FROM per_doc
    GROUP BY tok, t
    """,
)
def text_burstiness_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' deviation of proportions DP (Gries 2008, public) for the 15
    most frequent tokens: DP = 0.5 * sum_docs |token share in doc -
    doc's size share of the corpus| — 0 for a perfectly even spread, near
    1 for a token bursting in few documents. The corpus-linguistics
    dispersion measure that separates genuinely common words from
    template artifacts that repeat inside a handful of boilerplate docs.

    Determinism: |c_i/T - n_i/N| is computed as the exact integer
    |c_i*N - n_i*T| (T = token total, N = corpus total), summed as
    BIGINT, with ONE division by 2TN at readout — no float sums.

    Scale shape: token counts and doc sizes are two map-side-combined
    aggregates; the top-15 selection is a heap; the per-(token, doc)
    grid is 15 x docs built by broadcasting the 15-row token frame —
    linear in the corpus, never quadratic."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    doc_sizes = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    corpus = doc_sizes.agg(F.sum("n").cast("long").alias("total"))
    tok_totals = toks.groupBy("tok").agg(F.count("*").cast("long").alias("t"))
    top_toks = (
        tok_totals.orderBy(F.col("t").desc(), "tok").limit(15)
    )
    per_doc_counts = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    grid = (
        doc_sizes.crossJoin(F.broadcast(top_toks))
        .join(per_doc_counts, ["doc_id", "tok"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .crossJoin(F.broadcast(corpus))
    )
    return grid.groupBy("tok").agg(
        F.max("t").alias("tok_total"),
        F.sum(F.when(F.col("c") > 0, 1).otherwise(0)).cast("long").alias("n_docs"),
        F.round(
            F.sum(
                F.abs(F.col("c") * F.col("total") - F.col("n") * F.col("t"))
            ).cast("double")
            / (2.0 * F.max("t") * F.max("total")),
            6,
        ).alias("dp"),
    )


@query(
    "join_interval_coalesce",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               EPOCH_US(ts) // 1000000 AS s,
               EPOCH_US(ts) // 1000000 + 300 AS e
        FROM events
    ),
    ordered AS (
        SELECT user_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_e
        FROM iv
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    grouped AS (
        SELECT user_id, s, e,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, e)
                   AS grp
        FROM flagged
    ),
    merged AS (
        SELECT user_id, grp,
               MIN(s) AS m_start, MAX(e) AS m_end
        FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM(m_end - m_start) AS BIGINT) AS covered_sec,
           CAST(MAX(m_end - m_start) AS BIGINT) AS longest_sec
    FROM merged GROUP BY user_id
    """,
)
def join_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (the classic gaps-and-islands merge, public):
    each event opens a 5-minute activity window; overlapping or touching
    windows per user merge into maximal islands via the running-max-end
    sweep — new island iff start > max(end) of all earlier intervals —
    then per-user coverage stats. The building block behind session
    stitching, on-call coverage, and SLA uptime math.

    Determinism: epochs are exact integer seconds; the sweep is integer
    comparisons and BIGINT window sums; outputs are integer seconds.

    Scale shape: one per-user sort (the window's ORDER BY s) does all the
    work — no self-join over intervals (the naive overlap join is
    quadratic per user); islands then aggregate map-side. This is the
    same one-sort discipline as udaf_gap_sessions with a different merge
    predicate (overlap, not gap)."""
    iv = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + 300).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = Window.partitionBy("user_id").orderBy("s", "e")
    flagged = iv.withColumn("prev_max_e", F.max("e").over(wprev)).withColumn(
        "is_new",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
        ).otherwise(0),
    )
    grouped = flagged.withColumn("grp", F.sum("is_new").over(wcum))
    merged = grouped.groupBy("user_id", "grp").agg(
        F.min("s").alias("m_start"), F.max("e").alias("m_end")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_merged"),
        F.sum(F.col("m_end") - F.col("m_start")).cast("long").alias("covered_sec"),
        F.max(F.col("m_end") - F.col("m_start")).cast("long").alias("longest_sec"),
    )
