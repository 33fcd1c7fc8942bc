"""Wave-127: reciprocal-rank-fusion of two retrieval rankers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_MU = 100  # Dirichlet smoothing (ranker A)
_K1_MILLI = 1200  # BM25 k1 = 1.2
_B_MILLI = 750  # BM25 b = 0.75
_RRF_K = 60


@query(
    "model_rrf_fusion",
    oracle=f"""
    WITH toks AS (
        SELECT d.doc_id, d.lang, t.tok
        FROM documents d,
             UNNEST(STRING_SPLIT(d.text, ' ')) AS t(tok)
    ),
    dlen AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM toks GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c,
               CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS nd
        FROM toks
    ),
    ctf AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS ctf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY tok
    ),
    qterms AS (
        SELECT lang, tok FROM (
            SELECT q.lang, q.tok,
                   ROW_NUMBER() OVER (PARTITION BY q.lang
                                      ORDER BY q.df DESC, q.tok) AS rn
            FROM (SELECT lang, tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                  FROM toks GROUP BY lang, tok) q) t
        WHERE rn <= 2
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok
    ),
    terms AS (
        SELECT q.lang, dl.doc_id,
               CAST(ROUND(1000000 * LN(
                   CAST(COALESCE(t.tf, 0) * s.c + {_MU} * cf.ctf AS DOUBLE)
                   / (s.c * (dl.len + {_MU}))
               )) AS BIGINT) AS ql_micro,
               CAST(ROUND(1000000 * (
                   LN((s.nd - cf.df + 0.5) / (cf.df + 0.5) + 1.0)
                   * (COALESCE(t.tf, 0) * ({_K1_MILLI} + 1000))
                   / (COALESCE(t.tf, 0) * 1000 + {_K1_MILLI}
                      * (1000 - {_B_MILLI}
                         + {_B_MILLI} * dl.len * s.nd * 1.0 / s.c))
               )) AS BIGINT) AS bm_micro
        FROM qterms q
        CROSS JOIN dlen dl
        CROSS JOIN stats s
        JOIN ctf cf ON cf.tok = q.tok
        LEFT JOIN tf t ON t.doc_id = dl.doc_id AND t.tok = q.tok
    ),
    scored AS (
        SELECT lang, doc_id,
               CAST(SUM(ql_micro) AS BIGINT) AS ql,
               CAST(SUM(bm_micro) AS BIGINT) AS bm
        FROM terms GROUP BY lang, doc_id
    ),
    ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY ql DESC, doc_id) AS rank_ql,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY bm DESC, doc_id) AS rank_bm
        FROM scored
    ),
    fused AS (
        SELECT lang, doc_id, rank_ql, rank_bm,
               CAST(ROUND(1000000.0 / ({_RRF_K} + rank_ql))
                    + ROUND(1000000.0 / ({_RRF_K} + rank_bm)) AS BIGINT)
                   AS rrf_micro
        FROM ranked
    )
    SELECT lang, doc_id, CAST(rank_ql AS BIGINT) AS rank_ql,
           CAST(rank_bm AS BIGINT) AS rank_bm, rrf_micro, rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY rrf_micro DESC, doc_id) AS rk
        FROM fused) t
    WHERE rk <= 5
    """,
)
def model_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009,
    public): fuse a Dirichlet query-likelihood ranker and a BM25 ranker
    over the same per-language queries by RRF(d) = Σ_r 1/(k + rank_r(d)),
    k=60 — the robust rank-only combiner that beats score normalization
    because it ignores incomparable score scales. Output: top-5 fused
    docs per query with both input ranks.

    Determinism: each ranker's per-term score collapses to one rounded
    double chain over exact-integer inputs (BM25's k1/b live as
    milli-integers so the tf-saturation denominator is rational);
    per-doc sums and the RRF combination are exact integer arithmetic
    over ranks from totally-ordered row_numbers.

    Scale shape: same broadcast-query posture as the component rankers —
    collection stats are tiny aggregates, the corpus is scanned once,
    ranks are per-query windows, fusion is a projection."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    dlen = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("len"))
    # document count folded in as a 1-row broadcast (no build-time job)
    ndf = d.agg(F.count("*").cast("long").alias("nd_c"))
    ctot = toks.agg(F.count("*").cast("long").alias("c"))
    ctf = toks.groupBy("tok").agg(
        F.count("*").cast("long").alias("ctf"),
        F.count_distinct("doc_id").cast("long").alias("df"),
    )
    wq = Window.partitionBy("lang").orderBy(F.col("qdf").desc(), "tok")
    qterms = (
        toks.groupBy("lang", "tok")
        .agg(F.count_distinct("doc_id").cast("long").alias("qdf"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= 2)
        .select("lang", "tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf"))
    tfv = F.coalesce(F.col("tf"), F.lit(0))
    ql_micro = (
        F.round(
            1000000
            * F.log(
                (tfv * F.col("c") + _MU * F.col("ctf")).cast("double")
                / (F.col("c") * (F.col("len") + _MU))
            )
        )
    ).cast("long")
    bm_micro = (
        F.round(
            1000000
            * (
                F.log(
                    (F.col("nd_c") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (tfv * (_K1_MILLI + 1000))
                / (
                    tfv * 1000
                    + _K1_MILLI
                    * (
                        1000
                        - _B_MILLI
                        + _B_MILLI * F.col("len") * F.col("nd_c") * 1.0 / F.col("c")
                    )
                )
            )
        )
    ).cast("long")
    scored = (
        F.broadcast(qterms)
        .crossJoin(dlen)
        .crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(ndf))
        .join(F.broadcast(ctf), "tok")
        .join(tf, ["doc_id", "tok"], "left")
        .select("lang", "doc_id", ql_micro.alias("qlm"), bm_micro.alias("bmm"))
        .groupBy("lang", "doc_id")
        .agg(
            F.sum("qlm").cast("long").alias("ql"),
            F.sum("bmm").cast("long").alias("bm"),
        )
    )
    wql = Window.partitionBy("lang").orderBy(F.col("ql").desc(), "doc_id")
    wbm = Window.partitionBy("lang").orderBy(F.col("bm").desc(), "doc_id")
    ranked = scored.select(
        "lang",
        "doc_id",
        F.row_number().over(wql).alias("rank_ql"),
        F.row_number().over(wbm).alias("rank_bm"),
    )
    rrf = (
        F.round(1000000.0 / (_RRF_K + F.col("rank_ql")))
        + F.round(1000000.0 / (_RRF_K + F.col("rank_bm")))
    ).cast("long")
    wf = Window.partitionBy("lang").orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        ranked.withColumn("rrf_micro", rrf)
        .withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= 5)
        .select(
            "lang",
            "doc_id",
            F.col("rank_ql").cast("long").alias("rank_ql"),
            F.col("rank_bm").cast("long").alias("rank_bm"),
            "rrf_micro",
            "rk",
        )
    )
