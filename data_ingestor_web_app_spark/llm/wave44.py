"""Wave-44: end-to-end corpus build (the flagship composition), bitwise
aggregates.

pipeline_corpus_e2e chains four curation stages the engine already
verifies individually — structural quality gate, exact content dedup,
eval-set decontamination, per-source manifest — into ONE declarative
plan whose oracle replays every stage. This is the 'switch your corpus
build to this engine' proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_corpus_e2e",
    oracle="""
    WITH base AS (
        SELECT doc_id, source, text, STRING_SPLIT(text, ' ') AS t,
               doc_id % 10 = 0 AS is_eval
        FROM documents
    ),
    staged AS (
        SELECT doc_id, source, text, t, is_eval,
               LEN(t) BETWEEN 20 AND 100000
               AND (CAST(LEN(REPLACE(text, ' ', '')) AS DOUBLE) / LEN(t))
                   BETWEEN 3 AND 10
               AND LEN(LIST_FILTER(t,
                   w -> w IN ('the', 'be', 'to', 'of', 'and'))) >= 2
                   AS pass_quality
        FROM base WHERE NOT is_eval
    ),
    keepers AS (
        SELECT MD5(text) AS h, MIN(doc_id) AS keeper
        FROM staged WHERE pass_quality GROUP BY MD5(text)
    ),
    deduped AS (
        SELECT s.doc_id, s.source, s.t
        FROM staged s JOIN keepers k
          ON k.h = MD5(s.text) AND k.keeper = s.doc_id
        WHERE s.pass_quality
    ),
    eval_grams AS (
        SELECT DISTINCT g FROM (
            SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]
                   || ' ' || t[i + 4] AS g
            FROM (SELECT t, UNNEST(GENERATE_SERIES(1, LEN(t) - 4)) AS i
                  FROM base WHERE is_eval AND LEN(t) >= 5)
        )
    ),
    contaminated AS (
        SELECT DISTINCT d.doc_id FROM (
            SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]
                   || ' ' || t[i + 4] AS g
            FROM (SELECT doc_id, t, UNNEST(GENERATE_SERIES(1, LEN(t) - 4)) AS i
                  FROM deduped WHERE LEN(t) >= 5)
        ) d JOIN eval_grams e ON e.g = d.g
    ),
    final AS (
        SELECT d.source, LEN(d.t) AS n_tokens
        FROM deduped d
        LEFT JOIN contaminated c ON c.doc_id = d.doc_id
        WHERE c.doc_id IS NULL
    ),
    train_counts AS (
        SELECT source, COUNT(*) AS n_input
        FROM base WHERE NOT is_eval GROUP BY source
    )
    SELECT f.source,
           MAX(tc.n_input) AS n_input,
           COUNT(*) AS n_final,
           CAST(SUM(f.n_tokens) AS BIGINT) AS final_tokens,
           ROUND(COUNT(*) * 1.0 / MAX(tc.n_input), 6) AS keep_rate
    FROM final f JOIN train_counts tc ON tc.source = f.source
    GROUP BY f.source
    """,
)
def pipeline_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus build in one declarative plan — the composition a
    reference user actually ships:

      1. eval split held out (doc_id % 10 == 0);
      2. Gopher structural quality gate (20-token floor for this
         corpus's short docs);
      3. exact content dedup (MD5 keep-min-id);
      4. 5-gram decontamination against the eval split (the published
         method uses 13-grams; 5 matches this corpus's short docs);
      5. per-source manifest (inputs, survivors, token budget, keep rate).

    Every stage reuses a pattern the engine verifies standalone
    (text_gopher_rules, dedup_exact, pipeline_decontaminate) and the
    oracle replays ALL of them fused — catching any stage-boundary bug a
    per-operator gate can't see.

    Scale shape: quality is a scan projection; dedup is one hash groupBy
    + keyed self-join; decontamination explodes grams once and probes a
    left-semi (AQE broadcasts the eval gram set only if runtime size
    allows); the manifest is map-side combined. No stage materializes an
    intermediate — Catalyst fuses the whole chain."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        "text",
        F.split("text", " ").alias("t"),
        (F.col("doc_id") % 10 == 0).alias("is_eval"),
    )
    train = base.where(~F.col("is_eval"))
    n_words = F.size("t")
    mean_wl = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words
    )
    pass_quality = (
        n_words.between(20, 100000)
        & mean_wl.between(3, 10)
        & (
            F.size(F.filter("t", lambda w: w.isin("the", "be", "to", "of", "and"))) >= 2
        )
    )
    staged = train.where(pass_quality)
    w = Window.partitionBy(F.md5("text"))
    deduped = (
        staged.withColumn("keeper", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "source", "t")
    )
    gram_expr = F.expr(
        "CASE WHEN size(t) >= 5 THEN transform(sequence(0, size(t) - 5), "
        "i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2], ' ', t[i + 3], ' ', "
        "t[i + 4])) ELSE array() END"
    )
    eval_grams = (
        base.where("is_eval").select(F.explode(gram_expr).alias("g")).distinct()
    )
    doc_grams = deduped.select("doc_id", F.explode(gram_expr).alias("g"))
    contaminated = (
        doc_grams.join(eval_grams, "g", "left_semi").select("doc_id").distinct()
    )
    final = deduped.join(contaminated, "doc_id", "left_anti").select(
        "source", F.size("t").alias("n_tokens")
    )
    train_counts = train.groupBy("source").agg(F.count("*").alias("n_input"))
    return (
        final.groupBy("source")
        .agg(
            F.count("*").alias("n_final"),
            F.sum("n_tokens").cast("long").alias("final_tokens"),
        )
        .join(train_counts, "source")
        .select(
            "source",
            "n_input",
            "n_final",
            "final_tokens",
            F.round(F.col("n_final") * 1.0 / F.col("n_input"), 6).alias("keep_rate"),
        )
    )


@query(
    "agg_bitwise",
    oracle="""
    SELECT event_type,
           CAST(BIT_AND(user_id) AS BIGINT) AS and_all,
           CAST(BIT_OR(user_id) AS BIGINT) AS or_all,
           CAST(BIT_XOR(user_id) AS BIGINT) AS xor_all,
           CAST(BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS BIGINT)
               AS presence_mask
    FROM events GROUP BY event_type
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and / bit_or / bit_xor) plus a 32-slot
    presence mask — the primitives behind bitmap indexes and
    set-membership rollups (agg_bitmap_distinct builds on exactly this).
    XOR-aggregation is also the classic 'find the unpaired element'
    checksum.

    Scale shape: all four are algebraic aggregates with map-side partials
    — one shuffle of k tiny rows."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bit_and("user_id").cast("long").alias("and_all"),
        F.bit_or("user_id").cast("long").alias("or_all"),
        F.bit_xor("user_id").cast("long").alias("xor_all"),
        F.bit_or(F.expr("shiftleft(1L, cast(user_id % 32 as int))"))
        .cast("long")
        .alias("presence_mask"),
    )
