"""Wave-297: vocabulary-richness constants (Honoré R, Sichel S, Brunet W)
per source and the Coleman-Liau readability index per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_honore_sichel",
    oracle="""
    WITH toks AS (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    tf AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks GROUP BY source, w
    ),
    rich AS (
        SELECT source,
               CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
        FROM tf GROUP BY source
    )
    SELECT source, n_tokens, vocab, v1, v2,
           ROUND(100.0 * LN(CAST(n_tokens AS DOUBLE))
                 / (1.0 - CAST(v1 AS DOUBLE) / vocab), 4) AS honore_r,
           ROUND(CAST(v2 AS DOUBLE) / vocab, 6) AS sichel_s,
           ROUND(POWER(CAST(n_tokens AS DOUBLE),
                       POWER(CAST(vocab AS DOUBLE), -0.165)), 4)
               AS brunet_w
    FROM rich
    """,
)
def text_honore_sichel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness constants per corpus source (all public):
    Honoré's R = 100·ln(N)/(1 - V1/V) (Honoré 1979 — hapax-driven;
    higher = richer, diverges as everything becomes hapax), Sichel's
    S = V2/V (Sichel 1975 — the dislegomena share, remarkably stable
    per author), and Brunet's W = N^(V^-0.165) (Brunet 1978 — LOWER is
    richer, famously insensitive to text length). The classical
    authorship/statistics triple on top of the registry's TTR / Heaps /
    Yule rows — five lenses, one token pipeline, so per-source
    provenance shifts in a training corpus show up as constant drift.

    Determinism: all four inputs (N, V, V1, V2) are exact integer
    token-frequency aggregates over identical single-space splits;
    three short float chains rounded.

    Scale shape: explode -> (source, token) partial-agg groupBy ->
    per-source rollup; linear in tokens, no window, no UDF — the same
    shuffle budget as text_tokenize_wordcount."""
    toks = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    tf = toks.groupBy("source", "w").agg(F.count("*").cast("long").alias("f"))
    rich = tf.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("long").alias("v1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).cast("long").alias("v2"),
    )
    return rich.select(
        "source",
        "n_tokens",
        "vocab",
        "v1",
        "v2",
        F.round(
            100.0
            * F.log(F.col("n_tokens").cast("double"))
            / (1.0 - F.col("v1").cast("double") / F.col("vocab")),
            4,
        ).alias("honore_r"),
        F.round(F.col("v2").cast("double") / F.col("vocab"), 6).alias(
            "sichel_s"
        ),
        F.round(
            F.pow(
                F.col("n_tokens").cast("double"),
                F.pow(F.col("vocab").cast("double"), F.lit(-0.165)),
            ),
            4,
        ).alias("brunet_w"),
    )


@query(
    "text_coleman_liau",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g'))
                    AS BIGINT) AS letters,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
               CAST(GREATEST(
                    LENGTH(text)
                      - LENGTH(REPLACE(REPLACE(REPLACE(text, '.', ''),
                                               '!', ''), '?', '')),
                    1) AS BIGINT) AS n_sentences
        FROM documents
    )
    SELECT doc_id, letters, n_words, n_sentences,
           ROUND(0.0588 * (100.0 * letters / n_words)
                 - 0.296 * (100.0 * n_sentences / n_words) - 15.8, 4)
               AS coleman_liau
    FROM m
    """,
)
def text_coleman_liau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coleman-Liau readability index (Coleman & Liau, J. Applied
    Psychology 1975, public): CLI = 0.0588·L - 0.296·S - 15.8 with
    L = letters per 100 words and S = sentences per 100 words — the
    readability grade that needs NO syllable counting (it was designed
    for mechanical scanners), so it is exact where Flesch's syllable
    heuristic approximates. Completes the readability family:
    syllable-based (text_flesch_readability), long-word-based
    (text_lix_readability), character-based (this). Sentence count
    falls back to 1 on punctuation-free docs (this fixture), same
    documented policy as LIX.

    Determinism: letter/word/sentence counts are exact integers from
    identical regex/split semantics; one rounded affine chain.

    Scale shape: one linear projection, builtin regexp/split only."""
    m = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
        .cast("long")
        .alias("letters"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.greatest(
            F.length("text")
            - F.length(
                F.replace(
                    F.replace(
                        F.replace(F.col("text"), F.lit("."), F.lit("")),
                        F.lit("!"),
                        F.lit(""),
                    ),
                    F.lit("?"),
                    F.lit(""),
                )
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("n_sentences"),
    )
    return m.select(
        "doc_id",
        "letters",
        "n_words",
        "n_sentences",
        F.round(
            0.0588 * (100.0 * F.col("letters") / F.col("n_words"))
            - 0.296 * (100.0 * F.col("n_sentences") / F.col("n_words"))
            - 15.8,
            4,
        ).alias("coleman_liau"),
    )
