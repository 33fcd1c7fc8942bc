"""Wave-62 (batch): RLHF-style preference-pair construction from a
deterministic quality score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_preference_pairs",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source,
               ROUND(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1.0
                     / LEN(STRING_SPLIT(text, ' ')), 6) AS q
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, q,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY q DESC, doc_id) AS rb,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY q ASC, doc_id DESC) AS rw
        FROM scored
    )
    SELECT b.source, CAST(b.rb AS INT) AS pair_rank,
           b.doc_id AS chosen_id, w.doc_id AS rejected_id,
           ROUND(b.q - w.q, 6) AS margin
    FROM ranked b
    JOIN ranked w ON w.source = b.source AND w.rw = b.rb
    WHERE b.rb <= 3 AND b.doc_id <> w.doc_id AND b.q - w.q >= 0.05
    """,
)
def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model training (the
    InstructGPT / RLHF data-prep step, public): within each source, the
    k-th best document by a deterministic quality score (type-token
    ratio) is paired against the k-th worst, keeping pairs whose margin
    clears 0.05 — chosen/rejected pairs with a real quality gap, never
    near-ties that teach the reward model noise.

    Determinism: the score is an exact integer ratio rounded once; both
    rankings are totally ordered (score, doc_id); the margin filter
    compares the rounded scores.

    Scale shape: one source-partitioned window pass (both ranks ride the
    same sort), then a self-join on (source, rank) — rank <= 3 bounds
    the join input to 6 rows per source before it happens."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "source",
        F.round(F.size(F.array_distinct(toks)) * 1.0 / F.size(toks), 6).alias("q"),
    )
    wb = Window.partitionBy("source").orderBy(F.col("q").desc(), "doc_id")
    ww = Window.partitionBy("source").orderBy(F.col("q").asc(), F.col("doc_id").desc())
    ranked = scored.select(
        "doc_id",
        "source",
        "q",
        F.row_number().over(wb).alias("rb"),
        F.row_number().over(ww).alias("rw"),
    )
    best = ranked.where(F.col("rb") <= 3).select(
        "source",
        F.col("rb").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"),
        F.col("q").alias("qb"),
    )
    worst = ranked.where(F.col("rw") <= 3).select(
        "source",
        F.col("rw").alias("pair_rank"),
        F.col("doc_id").alias("rejected_id"),
        F.col("q").alias("qw"),
    )
    return (
        best.join(worst, ["source", "pair_rank"])
        .where(
            (F.col("chosen_id") != F.col("rejected_id"))
            & (F.col("qb") - F.col("qw") >= 0.05)
        )
        .select(
            "source",
            F.col("pair_rank").cast("int").alias("pair_rank"),
            "chosen_id",
            "rejected_id",
            F.round(F.col("qb") - F.col("qw"), 6).alias("margin"),
        )
    )
