"""Wave-167: training-batch economics and distribution alignment —
padding-waste length bucketing, unigram-LM holdout perplexity, and
quantile normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_padding_waste_buckets",
    oracle="""
    WITH toks AS (
        SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tok
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, n_tok,
               CAST(POW(2, CEIL(LN(GREATEST(n_tok, 1)) / LN(2))) AS BIGINT)
                   AS bucket_cap
        FROM toks
    ),
    per_bucket AS (
        SELECT bucket_cap,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
               CAST(SUM(bucket_cap - n_tok) AS BIGINT) AS pad_tokens
        FROM bucketed GROUP BY bucket_cap
    ),
    gstats AS (SELECT MAX(n_tok) AS max_len FROM toks)
    SELECT bucket_cap, n_docs, real_tokens, pad_tokens,
           ROUND(pad_tokens * 1e0 / (real_tokens + pad_tokens), 6)
               AS bucket_waste,
           ROUND(1 - (SELECT SUM(real_tokens) FROM per_bucket) * 1e0
                     / ((SELECT SUM(n_docs) FROM per_bucket)
                        * (SELECT max_len FROM gstats)), 6)
               AS naive_waste
    FROM per_bucket
    """,
)
def pipeline_padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching economics: assign each document to the
    power-of-two length bucket covering its token count and report per-
    bucket padding waste (padded/total tokens), alongside the waste a
    NAIVE pad-everything-to-max batcher would pay (constant column). This
    is the number that decides a training pipeline's effective tokens/s —
    bucketing typically turns 60-80% naive waste into <30%.

    Determinism: bucket is an exact integer (2^ceil(log2 n)); all counts
    integer; two rounded divisions.

    Scale shape: one scan + one groupBy on ~log2(max_len) buckets; the
    naive-waste scalar reuses the same aggregates."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    bucketed = toks.select(
        "n_tok",
        F.pow(
            F.lit(2.0),
            F.ceil(F.log(F.greatest(F.col("n_tok"), F.lit(1)).cast("double")) / F.log(F.lit(2.0))),
        )
        .cast("long")
        .alias("bucket_cap"),
    )
    per_bucket = bucketed.groupBy("bucket_cap").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("real_tokens"),
        F.sum(F.col("bucket_cap") - F.col("n_tok")).cast("long").alias("pad_tokens"),
    )
    glob = toks.agg(
        F.max("n_tok").alias("max_len"),
        F.sum("n_tok").alias("tot_real"),
        F.count("*").alias("tot_docs"),
    )
    naive = (
        1
        - F.col("tot_real") * F.lit(1.0) / (F.col("tot_docs") * F.col("max_len"))
    )
    return per_bucket.crossJoin(F.broadcast(glob)).select(
        "bucket_cap",
        "n_docs",
        "real_tokens",
        "pad_tokens",
        F.round(
            F.col("pad_tokens")
            * F.lit(1.0)
            / (F.col("real_tokens") + F.col("pad_tokens")),
            6,
        ).alias("bucket_waste"),
        F.round(naive, 6).alias("naive_waste"),
    )


_ADD_K = 0.5


@query(
    "text_unigram_perplexity_holdout",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        FROM documents
    ),
    train AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE doc_id % 2 = 0 GROUP BY w
    ),
    tstats AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_train,
               CAST(COUNT(*) AS BIGINT) AS v_train
        FROM train
    ),
    held AS (SELECT w FROM tok WHERE doc_id % 2 = 1),
    scored AS (
        SELECT LN((COALESCE(t.c, 0) + {_ADD_K})
                  / (s.n_train + {_ADD_K} * (s.v_train + 1))) AS lp
        FROM held h
        LEFT JOIN train t ON t.w = h.w
        CROSS JOIN tstats s
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_heldout,
           ROUND(-AVG(lp), 6) AS cross_entropy_nats,
           ROUND(EXP(-AVG(lp)), 4) AS perplexity
    FROM scored
    """,
)
def text_unigram_perplexity_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout perplexity of an add-k-smoothed unigram language model
    (Jelinek-era LM evaluation, public): train counts on even doc_ids,
    score odd doc_ids; p(w) = (c+k)/(N + k(V+1)) with the +1 reserving
    mass for OOV; perplexity = exp(mean negative log-prob). THE summary
    statistic of corpus homogeneity — dedup and filtering decisions show
    up directly as held-out perplexity shifts.

    Determinism: counts exact; each ln is a single libm call on an
    identical double ratio; AVG is one fold (ROUND 6/4 absorbs order
    ulps — the agg_stats precedent).

    Scale shape: train is one groupBy; scoring is a broadcast-size
    vocab join against the held-out token stream; no shuffle of raw
    text beyond tokenization."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    train = (
        tok.where(F.col("doc_id") % 2 == 0)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tstats = train.agg(
        F.sum("c").cast("long").alias("n_train"),
        F.count("*").cast("long").alias("v_train"),
    )
    held = tok.where(F.col("doc_id") % 2 == 1).select("w")
    scored = (
        held.join(F.broadcast(train), "w", "left")
        .crossJoin(F.broadcast(tstats))
        .select(
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + _ADD_K)
                / (F.col("n_train") + _ADD_K * (F.col("v_train") + 1))
            ).alias("lp")
        )
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_heldout"),
        F.round(-F.avg("lp"), 6).alias("cross_entropy_nats"),
        F.round(F.exp(-F.avg("lp")), 4).alias("perplexity"),
    )


@query(
    "model_quantile_normalization",
    oracle="""
    WITH vals AS (
        SELECT doc_id, source, n_chars * 1e0 AS v FROM documents
    ),
    grp AS (
        SELECT doc_id, source, v,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS m
        FROM vals
    ),
    pooled AS (
        SELECT v AS pv,
               ROW_NUMBER() OVER (ORDER BY v, doc_id) - 1 AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM vals
    ),
    pos AS (
        SELECT doc_id, source, v,
               (r - 1e0) * (m0.n - 1) / GREATEST(m - 1, 1) AS p,
               m0.n AS n
        FROM grp CROSS JOIN (SELECT ANY_VALUE(n) AS n FROM pooled) m0
    ),
    interp AS (
        SELECT s.doc_id, s.source, s.v,
               lo.pv + (s.p - FLOOR(s.p)) * (hi.pv - lo.pv) AS nv
        FROM pos s
        JOIN pooled lo ON lo.i = CAST(FLOOR(s.p) AS BIGINT)
        JOIN pooled hi ON hi.i = LEAST(CAST(FLOOR(s.p) AS BIGINT) + 1, s.n - 1)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(v), 6) AS mean_raw,
           ROUND(AVG(nv), 6) AS mean_normalized,
           ROUND(MIN(nv), 6) AS min_normalized,
           ROUND(MAX(nv), 6) AS max_normalized
    FROM interp GROUP BY source
    """,
)
def model_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (Bolstad et al. 2003, public — the
    microarray/feature-alignment standard): map every value onto the
    POOLED distribution's quantile at its within-group percent rank, so
    all groups end up with identical marginal distributions. Per-row:
    within-source rank r of m -> pooled position p = (r−1)(N−1)/(m−1),
    linear interpolation between pooled order statistics floor(p) and
    floor(p)+1. Output: per-source raw vs normalized summary (after
    normalization the per-source min/max converge to the pooled range —
    the audit that the alignment worked).

    Determinism: ranks are total orders (value, doc_id); interpolation is
    a fixed float chain; ROUND 6.

    Scale shape (r8 rework, VERDICT r7 item 4): the per-source rank is a
    partitioned window (parallel per key); the POOLED rank uses the
    two-phase sharded prefix rank (rank within equal values +
    distinct-value cumulative offsets, rank_utils.global_row_index) —
    bit-identical to the single-partition row_number, no corpus-sized
    window partition — then an equi-join on the floor index."""
    from data_ingestor_web_app_spark.operators.rank_utils import global_row_index

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", (F.col("n_chars") * 1.0).alias("v")
    )
    wg = Window.partitionBy("source").orderBy("v", "doc_id")
    grp = d.select(
        "doc_id",
        "source",
        "v",
        F.row_number().over(wg).alias("r"),
        F.count("*").over(Window.partitionBy("source")).cast("long").alias("m"),
    )
    pooled = global_row_index(d.select("v", "doc_id"), "v", "doc_id").select(
        F.col("v").alias("pv"), (F.col("__i") - 1).alias("i")
    )
    # corpus size folded in as a 1-row broadcast frame (the repo-wide
    # pattern) instead of an eager .count() job at build time
    total = d.agg(F.count("*").cast("long").alias("n_total"))
    pos = grp.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "source",
        "v",
        "n_total",
        (
            (F.col("r") - 1.0)
            * (F.col("n_total") - 1)
            / F.greatest(F.col("m") - 1, F.lit(1))
        ).alias("p"),
    )
    lo = pooled.select(F.col("i").alias("ilo"), F.col("pv").alias("pv_lo"))
    hi = pooled.select(F.col("i").alias("ihi"), F.col("pv").alias("pv_hi"))
    interp = (
        pos.withColumn("ilo", F.floor("p").cast("long"))
        .withColumn("ihi", F.least(F.col("ilo") + 1, F.col("n_total") - 1))
        .join(lo, "ilo")
        .join(hi, "ihi")
        .select(
            "source",
            "v",
            (
                F.col("pv_lo")
                + (F.col("p") - F.floor("p")) * (F.col("pv_hi") - F.col("pv_lo"))
            ).alias("nv"),
        )
    )
    return interp.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("v"), 6).alias("mean_raw"),
        F.round(F.avg("nv"), 6).alias("mean_normalized"),
        F.round(F.min("nv"), 6).alias("min_normalized"),
        F.round(F.max("nv"), 6).alias("max_normalized"),
    )
