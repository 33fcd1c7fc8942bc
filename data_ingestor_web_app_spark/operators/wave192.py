"""Wave-192: duplicate-paragraph removal (C4-style keep-first chunk
dedup), integer-exact systematic weighted sampling via a distributed
two-phase prefix sum, and the Cochran-Armitage trend test for ordered
binomial proportions.

All three are exact: chunk dedup keys on the chunk string itself with a
(doc_id, chunk_idx) total order; the systematic sampler does every
cumulative step in BIGINT arithmetic (floor-division selection counts,
never a float boundary); Cochran-Armitage reduces to five integer
moments with one rounded z at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_CHUNK = 10  # tokens per "paragraph" chunk (fixture text has no newlines)
_RATE = 50  # systematic sampler: target picks across the weight line
_BUCKETS = 32  # prefix-sum shards (≈ one per executor core)


@query(
    "pipeline_dup_paragraph_removal",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    chunks AS (
        SELECT doc_id, i AS chunk_idx,
               ARRAY_TO_STRING(toks[i*{_CHUNK}+1 : i*{_CHUNK}+{_CHUNK}],
                               ' ') AS chunk,
               LEAST({_CHUNK}, LEN(toks) - i*{_CHUNK}) AS ctoks
        FROM d, UNNEST(GENERATE_SERIES(
            0, CAST(CEIL(LEN(toks) / {_CHUNK}.0) AS BIGINT) - 1)) AS t(i)
    ),
    ranked AS (
        SELECT doc_id, ctoks,
               ROW_NUMBER() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN ctoks ELSE 0 END) AS BIGINT)
               AS kept_tokens,
           ROUND(1.0e0 - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_chunk_ratio
    FROM ranked GROUP BY doc_id
    """,
)
def pipeline_dup_paragraph_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style duplicate-paragraph removal: split every
    document into fixed {_CHUNK}-token chunks (the fixture's stand-in for
    paragraphs), keep only the corpus-FIRST occurrence of each distinct
    chunk ((doc_id, chunk_idx) order), and report per-document retention.
    The standard pass that strips boilerplate headers/footers repeated
    across a crawl before training.

    Determinism: keep-first is row_number over PARTITION BY the exact
    chunk string with the unique (doc_id, chunk_idx) total order; counts
    and kept-token sums are integers; one rounded ratio at the end.

    Scale shape: one explode to ~n_tokens/{_CHUNK} chunk rows, one hash
    shuffle keyed by the chunk value (high cardinality, no skew beyond
    true boilerplate clusters, which is exactly what AQE skew-split
    handles), one groupBy(doc_id) to fold back. Never all-pairs; the
    window state per key is one running counter."""
    docs = table(spark, sf_dir, "documents")
    chunks = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, int(ceil(size(toks)/{_CHUNK}.0)) - 1),"
                    f" i -> struct(concat_ws(' ', slice(toks, i*{_CHUNK}+1, {_CHUNK}))"
                    f" AS chunk, least({_CHUNK}, size(toks) - i*{_CHUNK}) AS ctoks))"
                )
            ).alias("chunk_idx", "c"),
        )
        .select("doc_id", "chunk_idx", "c.chunk", "c.ctoks")
    )
    ranked = chunks.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
        ),
    )
    kept = F.when(F.col("rn") == 1, 1).otherwise(0)
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(kept).cast("long").alias("kept_chunks"),
        F.sum(F.when(F.col("rn") == 1, F.col("ctoks")).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
        F.round(
            F.lit(1.0) - F.sum(kept) / F.count("*").cast("double"), 6
        ).alias("dup_chunk_ratio"),
    )


@query(
    "sample_weighted_systematic",
    oracle=f"""
    WITH w AS (SELECT doc_id, n_chars AS w FROM documents),
    c AS (
        SELECT doc_id, w,
               CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        FROM w
    ),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM w)
    SELECT doc_id, CAST(w AS BIGINT) AS w, cum,
           CAST((cum * {_RATE}) // total
                - ((cum - w) * {_RATE}) // total AS BIGINT) AS n_copies
    FROM c, t
    WHERE (cum * {_RATE}) // total - ((cum - w) * {_RATE}) // total >= 1
    """,
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic weighted sampling: lay every document's n_chars weight
    end-to-end along an integer line in doc_id order, then pick the
    {_RATE} equally spaced points floor(m * total / {_RATE}); a document
    is emitted with the exact number of points that land inside its
    span — floor(cum*{_RATE}/total) - floor(cum_before*{_RATE}/total).
    The derandomized analog of weighted reservoir sampling: zero variance
    in total picks, probability proportional to size, and reproducible
    bit-for-bit (no RNG, no float boundary — all BIGINT floor division).

    Determinism: the whole selection is integer arithmetic on exact
    cumulative sums.

    Scale shape: the global prefix sum is the textbook two-phase form —
    docs shard into {_BUCKETS} contiguous doc_id ranges, each shard runs
    a partitioned window cumsum, and the {_BUCKETS}-row shard-total
    offsets broadcast back. No global single-partition window ever sees
    the fact table; the only single-partition window is over the
    {_BUCKETS}-row offsets frame (bounded by construction)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    bounds = docs.agg(
        F.max("doc_id").alias("mx"), F.sum("w").cast("long").alias("total")
    )
    sharded = docs.join(F.broadcast(bounds)).withColumn(
        "bucket",
        (F.col("doc_id") / F.ceil((F.col("mx") + 1) / F.lit(_BUCKETS)))
        .cast("long"),
    )
    within = sharded.withColumn(
        "wcum",
        F.sum("w").over(Window.partitionBy("bucket").orderBy("doc_id")),
    )
    offsets = (
        sharded.groupBy("bucket")
        .agg(F.sum("w").cast("long").alias("btot"))
        .withColumn(
            "boff",
            F.coalesce(
                F.sum("btot").over(
                    # bounded: <= _BUCKETS rows by construction
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).cast("long"),
        )
        .select("bucket", "boff")
    )
    cum = within.join(F.broadcast(offsets), "bucket").withColumn(
        "cum", (F.col("boff") + F.col("wcum")).cast("long")
    )
    picks = cum.withColumn(
        "n_copies",
        F.expr(
            f"(cum * {_RATE}) DIV total - ((cum - w) * {_RATE}) DIV total"
        ).cast("long"),
    )
    return picks.where(F.col("n_copies") >= 1).select(
        "doc_id", "w", "cum", "n_copies"
    )


@query(
    "agg_cochran_armitage",
    oracle="""
    WITH cells AS (
        -- DuckDB dayofweek is 0-6 Sunday-first; Spark's is 1-7: shift +1
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS dose,
               CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS r_i
        FROM events GROUP BY dose
    ),
    tot AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n,
               CAST(SUM(r_i) AS BIGINT) AS r,
               CAST(SUM(dose * r_i) AS BIGINT) AS swr,
               CAST(SUM(dose * n_i) AS BIGINT) AS swn,
               CAST(SUM(dose * dose * n_i) AS BIGINT) AS sw2n
        FROM cells
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) AS n_groups,
           n AS n_total, r AS n_success,
           CAST(n * swr - r * swn AS BIGINT) AS t_num,
           ROUND((n * swr - r * swn)
                 / SQRT(CAST(r AS DOUBLE) * (n - r)
                        * (CAST(n AS HUGEINT) * sw2n
                           - CAST(swn AS HUGEINT) * swn) / n), 6)
               AS z_stat
    FROM tot
    """,
)
def agg_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for trend: is the purchase rate monotonically
    drifting across ordered day-of-week doses (scores 1..7)? The
    categorical-dose companion to Mann-Kendall (wave64) — CA tests a
    binomial proportion against ORDERED groups, the standard pre-launch
    check that a conversion metric isn't sliding along an ordinal axis.

    Z = (N*sum(w*r) - R*sum(w*n)) /
        sqrt(R*(N-R) * (N*sum(w^2*n) - sum(w*n)^2) / N).

    Determinism: every moment (N, R, sum wr, sum wn, sum w^2 n) is an
    exact integer; the numerator is published as an exact BIGINT
    alongside the one rounded z so the driver hash pins the integer core
    even if sqrt ulp ever drifted (it can't: one double expression,
    identical shape both engines).

    Scale shape: one groupBy(dose) with map-side partial counts collapses
    the fact table to <= 7 rows; everything after is constant-size
    arithmetic. No quadratic stage at all."""
    events = table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.dayofweek(F.to_date("ts")).cast("long").alias("dose")
    ).agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("r_i"),
    )
    dec = "decimal(38,0)"
    tot = cells.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("n_i").cast("long").alias("n"),
        F.sum("r_i").cast("long").alias("r"),
        F.sum(F.col("dose") * F.col("r_i")).cast("long").alias("swr"),
        F.sum(F.col("dose") * F.col("n_i")).cast("long").alias("swn"),
        F.sum(F.col("dose") * F.col("dose") * F.col("n_i"))
        .cast("long")
        .alias("sw2n"),
    )
    num = F.col("n") * F.col("swr") - F.col("r") * F.col("swn")
    den = F.sqrt(
        F.col("r").cast("double")
        * (F.col("n") - F.col("r"))
        * (
            F.col("n").cast(dec) * F.col("sw2n")
            - F.col("swn").cast(dec) * F.col("swn")
        ).cast("double")
        / F.col("n")
    )
    return tot.select(
        "n_groups",
        F.col("n").alias("n_total"),
        F.col("r").alias("n_success"),
        num.cast("long").alias("t_num"),
        F.round(num / den, 6).alias("z_stat"),
    )
