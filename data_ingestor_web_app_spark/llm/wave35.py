"""Wave-35: CCNet perplexity buckets, epoch-capped mixtures, partition
zone-map stats, two-round BPE training.

pipeline_ccnet_buckets composes the engine's own bigram-LM scorer into
the CCNet head/middle/tail split (Wenzek et al. 2020, public);
text_bpe_train_2rounds iterates the published BPE merge rule twice with
full cross-engine verification of both chosen merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# the bigram-LM scorer's oracle, embedded as a CTE (same composition
# pattern as pipeline_keep_best / text_langid_confusion)
_LM_SCORE_SQL = """
    toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    flat AS (
        SELECT doc_id, UNNEST(t) AS tok, GENERATE_SUBSCRIPTS(t, 1) AS i
        FROM toks
    ),
    bi AS (
        SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        FROM flat a JOIN flat b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    bigram_counts AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2
    ),
    unigram_counts AS (
        SELECT tok AS w1, COUNT(*) AS c1 FROM flat GROUP BY tok
    ),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM flat),
    scored_raw AS (
        SELECT bi.doc_id,
               -LN((bc.c2 + 1.0) / (uc.c1 + vocab.v)) AS nll
        FROM bi
        JOIN bigram_counts bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
        JOIN unigram_counts uc ON uc.w1 = bi.w1
        CROSS JOIN vocab
    ),
    lm AS (
        SELECT doc_id, ROUND(AVG(nll), 6) AS avg_nll
        FROM scored_raw GROUP BY doc_id
    )
"""


@query(
    "pipeline_ccnet_buckets",
    oracle=f"""
    WITH {_LM_SCORE_SQL},
    langed AS (
        SELECT l.doc_id, d.lang, l.avg_nll
        FROM lm l JOIN documents d ON d.doc_id = l.doc_id
    ),
    bounds AS (
        SELECT lang,
               QUANTILE_CONT(avg_nll, 1.0/3.0) AS q33,
               QUANTILE_CONT(avg_nll, 2.0/3.0) AS q67
        FROM langed GROUP BY lang
    ),
    bucketed AS (
        SELECT v.lang,
               CASE WHEN v.avg_nll <= b.q33 THEN 'head'
                    WHEN v.avg_nll <= b.q67 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               v.avg_nll
        FROM langed v JOIN bounds b ON b.lang = v.lang
    )
    SELECT lang, bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(avg_nll), 6) AS mean_nll
    FROM bucketed GROUP BY lang, bucket
    """,
)
def pipeline_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public):
    score every document with the corpus-trained bigram LM, split each
    language at its NLL terciles into head / middle / tail — head is the
    highest-quality slice a pretraining mix keeps, tail is dropped or
    down-weighted. Composes text_bigram_lm_score with broadcast per-lang
    tercile boundaries; the oracle EMBEDS the scorer's oracle as a CTE,
    so the whole composition is verified end-to-end.

    Scale shape: the LM scoring plan is unchanged (keyed shuffles on the
    model tables); boundaries are a per-lang percentile aggregate (k
    langs × 2 scalars, broadcast); bucketing is a projection; the final
    rollup is map-side combined. Spark percentile() and DuckDB
    QUANTILE_CONT bit-match on doubles."""
    from data_ingestor_web_app_spark.llm.lm_score import text_bigram_lm_score

    lm = text_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_nll")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    langed = lm.join(d, "doc_id")
    bounds = langed.groupBy("lang").agg(
        F.expr("percentile(avg_nll, 1.0D/3.0D)").alias("q33"),
        F.expr("percentile(avg_nll, 2.0D/3.0D)").alias("q67"),
    )
    bucketed = langed.join(F.broadcast(bounds), "lang").select(
        "lang",
        F.when(F.col("avg_nll") <= F.col("q33"), "head")
        .when(F.col("avg_nll") <= F.col("q67"), "middle")
        .otherwise("tail")
        .alias("bucket"),
        "avg_nll",
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("avg_nll"), 6).alias("mean_nll"),
    )


@query(
    "pipeline_mixture_epoch_caps",
    oracle="""
    WITH per AS (
        SELECT source, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS all_tokens FROM per),
    heated AS (
        SELECT source, tokens, POWER(tokens * 1.0 / all_tokens, 0.3) AS w
        FROM per, tot
    ),
    z AS (SELECT SUM(w) AS sw FROM heated)
    SELECT source, tokens,
           ROUND(w / sw * 1000000, 2) AS alloc_tokens,
           ROUND((w / sw * 1000000) / tokens, 4) AS epochs_uncapped,
           ROUND(LEAST((w / sw * 1000000) / tokens, 4.0), 4) AS epochs_capped,
           CAST(FLOOR(LEAST((w / sw * 1000000) / tokens, 4.0) * tokens) AS BIGINT)
               AS effective_tokens,
           CAST((w / sw * 1000000) / tokens > 4.0 AS BOOLEAN) AS was_capped
    FROM heated, z
    """,
)
def pipeline_mixture_epoch_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture allocation with MAX-EPOCH caps — the constraint real
    training mixes add on top of temperature sampling (no source repeats
    more than 4 epochs, however much the mixture wants it): allocate a
    1M-token budget by the α=0.3 temperature weights, convert to epochs,
    cap at 4, report the effective token contribution and the cap flag.
    The audit that shows exactly where a mixture silently loses budget.

    Scale shape: everything after the one map-side-combined token count
    runs on the |sources|-row frame with broadcast scalars."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens")
    )
    tot = per.agg(F.sum("tokens").cast("long").alias("all_tokens"))
    heated = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.pow(F.col("tokens") * 1.0 / F.col("all_tokens"), F.lit(0.3)).alias("w"),
    )
    z = heated.agg(F.sum("w").alias("sw"))
    alloc = F.col("w") / F.col("sw") * 1000000
    epochs = alloc / F.col("tokens")
    capped = F.least(epochs, F.lit(4.0))
    return heated.crossJoin(F.broadcast(z)).select(
        "source",
        "tokens",
        F.round(alloc, 2).alias("alloc_tokens"),
        F.round(epochs, 4).alias("epochs_uncapped"),
        F.round(capped, 4).alias("epochs_capped"),
        F.floor(capped * F.col("tokens")).cast("long").alias("effective_tokens"),
        (epochs > 4.0).alias("was_capped"),
    )


@query(
    "maintenance_partition_stats",
    oracle="""
    SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS dt,
           COUNT(*) AS n_rows,
           CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS min_vc,
           CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS max_vc,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT event_type) AS n_types,
           CAST(COUNT(*) - COUNT(props) AS BIGINT) AS n_null_props
    FROM events
    GROUP BY 1
    """,
)
def maintenance_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition zone-map stats collection — the manifest-stats table an
    Iceberg/Delta layout maintains per partition: row count, min/max of
    the measure (as exact cents), distinct users/types, null counts.
    Query planners prune partitions from exactly this table (the engine's
    join_dpp_dates and retention ops consume the same layout).

    Scale shape: one map-side-combined groupBy(day); min/max/count are
    algebraic, distincts are the expensive honest part (swap for HLL
    sketches at extreme scale — agg_hll_union_rollup is that variant)."""
    e = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    return e.groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("dt")).agg(
        F.count("*").alias("n_rows"),
        F.min(vc).alias("min_vc"),
        F.max(vc).alias("max_vc"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        (F.count("*") - F.count("props")).cast("long").alias("n_null_props"),
    )


@query(
    "text_bpe_train_2rounds",
    oracle="""
    WITH padded0 AS (
        SELECT doc_id, ' ' || text || ' ' AS p FROM documents
    ),
    pairs1 AS (
        SELECT a.tok || ' ' || b.tok AS pair, COUNT(*) AS n
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(p), ' ')) AS tok,
                     GENERATE_SUBSCRIPTS(STRING_SPLIT(TRIM(p), ' '), 1) AS i
              FROM padded0) a
        JOIN (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(p), ' ')) AS tok,
                     GENERATE_SUBSCRIPTS(STRING_SPLIT(TRIM(p), ' '), 1) AS i
              FROM padded0) b
          ON b.doc_id = a.doc_id AND b.i = a.i + 1
        GROUP BY 1
    ),
    best1 AS (SELECT pair, n FROM pairs1 ORDER BY n DESC, pair LIMIT 1),
    padded1 AS (
        SELECT d.doc_id,
               REPLACE(d.p, ' ' || b.pair || ' ',
                       ' ' || REPLACE(b.pair, ' ', '_') || ' ') AS p
        FROM padded0 d CROSS JOIN best1 b
    ),
    pairs2 AS (
        SELECT a.tok || ' ' || b.tok AS pair, COUNT(*) AS n
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(p), ' ')) AS tok,
                     GENERATE_SUBSCRIPTS(STRING_SPLIT(TRIM(p), ' '), 1) AS i
              FROM padded1) a
        JOIN (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(p), ' ')) AS tok,
                     GENERATE_SUBSCRIPTS(STRING_SPLIT(TRIM(p), ' '), 1) AS i
              FROM padded1) b
          ON b.doc_id = a.doc_id AND b.i = a.i + 1
        GROUP BY 1
    ),
    best2 AS (SELECT pair, n FROM pairs2 ORDER BY n DESC, pair LIMIT 1),
    padded2 AS (
        SELECT d.doc_id,
               REPLACE(d.p, ' ' || b.pair || ' ',
                       ' ' || REPLACE(b.pair, ' ', '_') || ' ') AS p
        FROM padded1 d CROSS JOIN best2 b
    )
    SELECT (SELECT pair FROM best1) AS merge1,
           (SELECT CAST(n AS BIGINT) FROM best1) AS n1,
           (SELECT pair FROM best2) AS merge2,
           (SELECT CAST(n AS BIGINT) FROM best2) AS n2,
           (SELECT CAST(SUM(LEN(STRING_SPLIT(TRIM(p), ' '))) AS BIGINT)
            FROM padded0) AS tokens_before,
           (SELECT CAST(SUM(LEN(STRING_SPLIT(TRIM(p), ' '))) AS BIGINT)
            FROM padded1) AS tokens_after_r1,
           (SELECT CAST(SUM(LEN(STRING_SPLIT(TRIM(p), ' '))) AS BIGINT)
            FROM padded2) AS tokens_after_r2
    """,
)
def text_bpe_train_2rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO rounds of BPE merge training (Sennrich et al. 2016, public):
    round 1 picks the corpus-wide most frequent adjacent pair and merges
    it everywhere; round 2 re-counts on the MERGED corpus — so merge 2
    can contain merge 1's fused token, which is what makes BPE build
    multi-token units. Both chosen merges, their frequencies, and the
    shrinking token totals are cross-engine verified; ties break
    lexicographically (deterministic training, as real tokenizers do).

    Scale shape per round: pair counting is one map-side-combined
    groupBy; the argmax is a 1-row TakeOrdered; the merge rewrite is a
    broadcast-1-row projection over the corpus. Real training runs K
    rounds of exactly this plan with the corpus checkpointed every few
    rounds (the sim_pq_adc lineage-cap pattern)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit(" "), F.col("text"), F.lit(" ")).alias("p")
    )

    def one_round(padded: DataFrame) -> tuple[DataFrame, DataFrame]:
        toks = padded.select(
            "doc_id", F.split(F.trim(F.col("p")), " ").alias("t")
        )
        pairs = toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), "
                    "i -> concat(t[i], ' ', t[i + 1])) ELSE array() END"
                )
            ).alias("pair")
        ).groupBy("pair").agg(F.count("*").alias("n"))
        best = pairs.orderBy(F.col("n").desc(), "pair").limit(1)
        merged = padded.crossJoin(F.broadcast(best)).select(
            "doc_id",
            F.replace(
                F.col("p"),
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                F.concat(F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("_")), F.lit(" ")),
            ).alias("p"),
        )
        return merged, best

    def token_total(padded: DataFrame):
        return padded.agg(
            F.sum(F.size(F.split(F.trim(F.col("p")), " "))).cast("long").alias("n")
        )

    p1, best1 = one_round(d)
    p2, best2 = one_round(p1)
    b1 = best1.select(F.col("pair").alias("merge1"), F.col("n").cast("long").alias("n1"))
    b2 = best2.select(F.col("pair").alias("merge2"), F.col("n").cast("long").alias("n2"))
    t0 = token_total(d).select(F.col("n").alias("tokens_before"))
    t1 = token_total(p1).select(F.col("n").alias("tokens_after_r1"))
    t2 = token_total(p2).select(F.col("n").alias("tokens_after_r2"))
    return (
        b1.crossJoin(b2).crossJoin(t0).crossJoin(t1).crossJoin(t2)
    )
