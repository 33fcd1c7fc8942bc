"""Wave-253: inference-serving data ops — the prefix-cache (KV-cache
sharing) savings audit at several prefix depths, and the speculative-
decoding acceptance rate of a bigram draft model evaluated on a held-out
document split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEPTHS = [2, 5, 10]


@query(
    "pipeline_prefix_cache_savings",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    per_depth AS (
        SELECT d.depth,
               ARRAY_TO_STRING(LIST_SLICE(t, 1, d.depth), ' ') AS prefix,
               LEAST(d.depth, LEN(t)) AS plen
        FROM toks
        CROSS JOIN (SELECT UNNEST(ARRAY{_DEPTHS}) AS depth) d
    ),
    grp AS (
        SELECT depth, prefix, ANY_VALUE(plen) AS plen,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM per_depth GROUP BY depth, prefix
    )
    SELECT depth,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
               AS docs_sharing,
           CAST(SUM((n - 1) * plen) AS BIGINT) AS saved_tokens,
           ROUND(SUM((n - 1) * plen)
                 / CAST(SUM(n * plen) AS DOUBLE), 6) AS saved_fraction
    FROM grp GROUP BY depth ORDER BY depth
    """,
)
def pipeline_prefix_cache_savings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Prefix-cache (KV-cache sharing) savings audit at token depths
    {2, 5, 10}: documents whose first d tokens coincide can share one
    cached prefix computation, saving (group_size - 1) * d tokens of
    prefill per depth — the accounting behind RadixAttention-style
    prefix caching in LLM serving (SGLang, vLLM automatic prefix
    caching; public). saved_fraction is savings over total prefix
    tokens — the cache hit rate a serving fleet would see if this
    corpus were the request stream.

    Exactness device: prefixes are exact string joins of token slices;
    every count and token sum stays BIGINT; one division per depth.

    Scale shape: constant 3x depth fan-out, one groupBy on the prefix
    string (hashable, skew = popular prefixes — exactly what AQE
    splits), one depth rollup."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    depths = F.array(*[F.lit(d) for d in _DEPTHS])
    per_depth = toks.withColumn("depth", F.explode(depths)).select(
        "depth",
        F.array_join(F.slice("t", 1, F.col("depth")), " ").alias("prefix"),
        F.least(F.col("depth"), F.size("t")).alias("plen"),
    )
    grp = per_depth.groupBy("depth", "prefix").agg(
        F.first("plen").alias("plen"),
        F.count("*").cast("long").alias("n"),
    )
    return (
        grp.groupBy("depth")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
            .cast("long")
            .alias("docs_sharing"),
            F.sum((F.col("n") - 1) * F.col("plen"))
            .cast("long")
            .alias("saved_tokens"),
            F.round(
                F.sum((F.col("n") - 1) * F.col("plen"))
                / F.sum(F.col("n") * F.col("plen")).cast("double"),
                6,
            ).alias("saved_fraction"),
        )
        .orderBy("depth")
    )


_SPEC_GAMMA = 4


@query(
    "pipeline_speculative_acceptance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    pairs AS (
        SELECT doc_id, t[r.i] AS w, t[r.i + 1] AS nxt
        FROM toks, UNNEST(RANGE(1, LEN(t))) AS r(i)
    ),
    bigram AS (
        SELECT w, nxt, CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs WHERE doc_id % 2 = 0
        GROUP BY w, nxt
    ),
    draft AS (
        SELECT w, nxt AS pred FROM (
            SELECT w, nxt,
                   ROW_NUMBER() OVER (PARTITION BY w
                                      ORDER BY c DESC, nxt) AS rk
            FROM bigram
        ) WHERE rk = 1
    ),
    eval AS (
        SELECT p.w, p.nxt, d.pred
        FROM pairs p LEFT JOIN draft d ON d.w = p.w
        WHERE p.doc_id % 2 = 1
    ),
    acc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN pred = nxt THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_accept
        FROM eval
    )
    SELECT n_pairs, n_accept,
           ROUND(n_accept / CAST(n_pairs AS DOUBLE), 6) AS acceptance,
           ROUND((1 - EXP(({_SPEC_GAMMA} + 1)
                          * LN(n_accept / CAST(n_pairs AS DOUBLE))))
                 / (1 - n_accept / CAST(n_pairs AS DOUBLE)), 6)
               AS expected_tokens_per_step
    FROM acc
    """,
)
def pipeline_speculative_acceptance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Speculative-decoding acceptance audit (Leviathan, Kalman &
    Matias, ICML 2023, public): a bigram draft model (per-token argmax
    successor, ties to the lexicographically smaller token) is trained
    on EVEN doc_ids and evaluated teacher-forced on ODD doc_ids; the
    acceptance rate p of its next-token predictions feeds the paper's
    expected-tokens-per-step formula (1 - p^(gamma+1)) / (1 - p) at
    draft block gamma = 4 — the go/no-go number for whether a cheap
    draft model speeds up serving on THIS corpus.

    Exactness device: the draft argmax has a total order (count desc,
    token); acceptance counting is integer; the power p^(gamma+1) is
    written EXP((gamma+1)*LN(p)) in both engines (POW is not
    cross-engine ulp-stable — NOTES_BUILD).

    Scale shape: one bigram rollup on the train split, a broadcastable
    draft table (vocabulary-sized), one evaluation join keyed on the
    token — all map-side-combinable."""
    pairs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) as w,"
                    "             element_at(t, i + 1) as nxt))"
                )
            ).alias("pr"),
        )
        .select("doc_id", F.col("pr.w").alias("w"), F.col("pr.nxt").alias("nxt"))
    )
    bigram = (
        pairs.where(F.col("doc_id") % 2 == 0)
        .groupBy("w", "nxt")
        .agg(F.count("*").cast("long").alias("c"))
    )
    draft = (
        bigram.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("w").orderBy(F.col("c").desc(), "nxt")
            ),
        )
        .where(F.col("rk") == 1)
        .select("w", F.col("nxt").alias("pred"))
    )
    ev = (
        pairs.where(F.col("doc_id") % 2 == 1)
        .join(F.broadcast(draft), "w", "left_outer")
    )
    acc = ev.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("pred") == F.col("nxt"), 1).otherwise(0))
        .cast("long")
        .alias("n_accept"),
    )
    p = F.col("n_accept") / F.col("n_pairs").cast("double")
    return acc.select(
        "n_pairs",
        "n_accept",
        F.round(p, 6).alias("acceptance"),
        F.round(
            (1 - F.exp((_SPEC_GAMMA + 1) * F.log(p))) / (1 - p), 6
        ).alias("expected_tokens_per_step"),
    )
