"""Wave-94: frequency capping, metadata-filtered vector top-k, and
boilerplate template-prefix detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm.vector_common import dot as _dot, norm as _norm
from data_ingestor_web_app_spark.registry import query


@query(
    "events_frequency_cap",
    oracle="""
    WITH ranked AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'view'
    )
    SELECT day_str AS day, n_views, n_served, n_capped,
           ROUND(n_capped * 1.0 / n_views, 6) AS capped_share
    FROM (
        SELECT STRFTIME(day, '%Y-%m-%d') AS day_str,
               CAST(COUNT(*) AS BIGINT) AS n_views,
               CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_served,
               CAST(SUM(CASE WHEN rn > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
        FROM ranked GROUP BY day
    )
    ORDER BY day
    """,
)
def events_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency capping (the ads/notifications delivery rule, public):
    each user may be served at most 3 view-impressions per day; the
    audit reports, per day, how many impressions were served vs
    suppressed — the inventory-loss number every capping policy change
    is judged by. Within-day ordering is by (ts, event_id), a total
    order, so the 'first 3' are well-defined.

    Determinism: ranking has a unique tie-break; counts are exact; one
    division for the share, rounded 6dp.

    Scale shape: one window partitioned by (user, day) — the natural
    high-cardinality key, so parallelism is per-user-day — then a
    map-side-combined rollup to days."""
    ranked = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            F.row_number()
            .over(
                Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
                    "ts", "event_id"
                )
            )
            .alias("rn"),
        )
    )
    return (
        ranked.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_views"),
            F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0)).cast("long").alias("n_served"),
            F.sum(F.when(F.col("rn") > 3, 1).otherwise(0)).cast("long").alias("n_capped"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_views",
            "n_served",
            "n_capped",
            F.round(F.col("n_capped") / F.col("n_views"), 6).alias("capped_share"),
        )
        .orderBy("day")
    )


@query(
    "sim_filtered_topk",
    oracle="""
    WITH qe AS (SELECT vec_id AS qid, label AS qlabel,
                       UNNEST(embedding) AS x,
                       GENERATE_SUBSCRIPTS(embedding, 1) AS i
                FROM embeddings WHERE vec_id < 10),
    te AS (SELECT vec_id AS nid, label, UNNEST(embedding) AS y,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings WHERE vec_id >= 10),
    norms AS (SELECT vec_id,
                     SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
              FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
              GROUP BY vec_id),
    dots AS (SELECT qid, MAX(qlabel) AS qlabel, nid, MAX(te.label) AS nlabel,
                    SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
             FROM qe JOIN te USING (i)
             WHERE te.label = qe.qlabel
             GROUP BY qid, nid),
    scored AS (SELECT qid, nid, nlabel,
                      ROUND(dot / (nq.nrm * nn.nrm), 6) AS cosine
               FROM dots
               JOIN norms nq ON nq.vec_id = qid
               JOIN norms nn ON nn.vec_id = nid)
    SELECT qid, nid, nlabel AS label, cosine, rk FROM (
        SELECT qid, nid, nlabel,  cosine,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rk
        FROM scored) s
    WHERE rk <= 3
    ORDER BY qid, rk
    """,
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search (the 'filtered ANN' feature
    every vector database ships, public concept): top-3 cosine
    neighbors for each query vector restricted to corpus vectors
    sharing the query's label — and the filter applies BEFORE any
    distance work, the pre-filtering strategy that keeps selective
    predicates cheap (post-filtering k-inflation is the alternative
    this operator deliberately avoids).

    Determinism: same exact dot/norm chains as the sim family; cosine
    rounds 6dp before ranking; unique tie-breaks.

    Scale shape: the label predicate prunes the corpus at the scan
    (PushedFilters), the bounded query batch broadcasts, per-query
    top-k is heap state — at IVF scale the filter becomes a posting-
    list intersection, same algebra."""
    e = table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm"))
    q = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    t = base.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"), "embedding", "nrm"
    )
    cos = F.round(_dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        t.join(F.broadcast(q), F.col("nlabel") == F.col("qlabel"))
        .select("qid", "nid", "nlabel", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("qid", "nid", F.col("nlabel").alias("label"), "cosine", "rk")
        .orderBy("qid", "rk")
    )


@query(
    "text_boilerplate_prefix",
    oracle="""
    WITH prefixed AS (
        SELECT doc_id,
               ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:5], ' ') AS prefix
        FROM documents
        WHERE LENGTH(text) > 0
    ),
    tpl AS (
        SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM prefixed GROUP BY prefix
        HAVING COUNT(*) >= 2
    )
    SELECT prefix, n_docs, first_doc, rk FROM (
        SELECT prefix, n_docs, first_doc,
               ROW_NUMBER() OVER (ORDER BY n_docs DESC, prefix) AS rk
        FROM tpl) s
    WHERE rk <= 15
    """,
)
def text_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection by shared opening (the C4-style
    'same first k tokens' heuristic, public): documents whose first 5
    tokens coincide are template candidates (navigation chrome, license
    headers, generated pages) — reported as the top-15 most frequent
    prefixes with document counts, the screen a pretraining pipeline
    runs BEFORE near-dedup because template families are cheaper to
    catch by key than by similarity.

    Determinism: prefix is pure string slicing; counts integer; ranking
    ties break on the prefix text.

    Scale shape: one projection + one map-side-combined groupBy on the
    prefix key + TakeOrderedAndProject — the whole operator is one
    shuffle of (prefix, partial count)."""
    prefixed = (
        table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select(
            "doc_id",
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ").alias("prefix"),
        )
    )
    tpl = (
        prefixed.groupBy("prefix")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )
    # heap top-k first; the ranking window then runs over 15 rows only
    top = tpl.orderBy(F.desc("n_docs"), F.asc("prefix")).limit(15)
    w = Window.orderBy(F.desc("n_docs"), F.asc("prefix"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "prefix", "n_docs", "first_doc", "rk"
    )
