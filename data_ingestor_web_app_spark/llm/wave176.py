"""Wave-176: LSH band-tuning S-curves, dedup threshold sweep, and
parquet schema evolution.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import local_df, scratch_dir, table
from data_ingestor_web_app_spark.registry import query

# candidate (bands, rows) configs for a 64-hash signature
_CONFIGS = [(8, 8), (16, 4), (4, 16), (32, 2)]
_S_GRID = [round(0.1 * i, 1) for i in range(1, 10)]


@query(
    "pipeline_lsh_tuning_curve",
    oracle=f"""
    WITH cfg(b, r) AS (VALUES {", ".join(f"({b}, {r})" for b, r in _CONFIGS)}),
    s(s) AS (VALUES {", ".join(f"({s})" for s in _S_GRID)})
    SELECT cfg.b AS bands, cfg.r AS rows_per_band, s.s AS jaccard,
           ROUND(1 - POW(1 - POW(s.s, cfg.r), cfg.b), 6) AS p_detect,
           ROUND(POW(1e0 / cfg.b, 1e0 / cfg.r), 6) AS threshold_50ish
    FROM cfg CROSS JOIN s
    """,
)
def pipeline_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH S-curve (Leskovec/Rajaraman/Ullman, Mining of
    Massive Datasets, public): for each candidate (bands b, rows r)
    split of a 64-hash signature, the probability a pair with Jaccard s
    becomes a candidate is 1−(1−s^r)^b, and the curve's waterline sits
    near (1/b)^(1/r). Emitted as a (config × s-grid) table — the tuning
    chart an engineer reads before committing a band structure (the
    engine's own 8×8 choice gives threshold ≈ 0.77, which is why
    dedup_minhash_lsh verifies at 0.9 with recall ≥ 0.95).

    Determinism: pure double pow chains over literal grids, ROUND 6.

    Scale shape: a 36-row literal cross join — the analysis costs
    nothing; it EXPLAINS the operator that costs something."""
    # r11: JVM-literal frames (io.local_df) — the createDataFrame+coalesce
    # pair was Python-RDD-backed, and the cross join re-evaluated the inner
    # Python partition per probe row: ~11 s in one task for 36 rows.
    cfg = local_df(spark, _CONFIGS, "b int, r int")
    sg = local_df(spark, [(s,) for s in _S_GRID], "s double")
    return cfg.crossJoin(sg).select(
        F.col("b").alias("bands"),
        F.col("r").alias("rows_per_band"),
        F.col("s").alias("jaccard"),
        F.round(
            1 - F.pow(1 - F.pow(F.col("s"), F.col("r")), F.col("b")), 6
        ).alias("p_detect"),
        F.round(
            F.pow(F.lit(1.0) / F.col("b"), F.lit(1.0) / F.col("r")), 6
        ).alias("threshold_50ish"),
    )


_THRESHOLDS = [0.7, 0.8, 0.9, 0.95]


@query(
    "pipeline_dedup_threshold_sweep",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks
        FROM documents
    ),
    ex AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
    ip AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT p.doc_a, p.doc_b,
               p.inter * 1e0
                   / (LEN(ta.toks) + LEN(tb.toks) - p.inter) AS j
        FROM ip p
        JOIN t ta ON ta.doc_id = p.doc_a
        JOIN t tb ON tb.doc_id = p.doc_b
    ),
    thr(thr) AS (VALUES {", ".join(f"({t})" for t in _THRESHOLDS)})
    SELECT thr.thr AS threshold,
           CAST(SUM(CASE WHEN j >= thr.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN j >= thr.thr THEN doc_b END)
               AS BIGINT) AS n_docs_removable
    FROM jac CROSS JOIN thr
    GROUP BY thr.thr
    """,
)
def pipeline_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sensitivity: for Jaccard cutoffs 0.7/0.8/0.9/0.95,
    how many near-dup pairs exist and how many documents a keep-lowest-id
    policy would remove (distinct higher-id members of a qualifying
    pair). THE chart that decides a corpus's dedup threshold — too low
    deletes paraphrases, too high keeps boilerplate; the knee lives in
    this table.

    Determinism: exact intersections over distinct token sets; one
    division per pair; integer counts per threshold.

    Scale shape: the pair generation shares dedup_near's shape (shared-
    token equi-join, never cartesian) and is computed ONCE for all four
    thresholds — the sweep is a literal fan-out over an aggregated pair
    list. At 100 TB the same sweep runs over the PPJoin/LSH candidate
    set instead of the exact pair set."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    ex = t.select("doc_id", F.explode("toks").alias("tok"))
    a, b = ex.alias("a"), ex.alias("b")
    ip = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("inter"))
    )
    ta = t.select(F.col("doc_id").alias("doc_a"), F.size("toks").alias("na"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.size("toks").alias("nb"))
    jac = (
        ip.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter") * F.lit(1.0)
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("j"),
        )
    )
    thr = spark.createDataFrame([(t,) for t in _THRESHOLDS], "thr double")
    return (
        jac.crossJoin(F.broadcast(thr))
        .groupBy(F.col("thr").alias("threshold"))
        .agg(
            F.sum((F.col("j") >= F.col("thr")).cast("long")).alias("n_pairs"),
            F.count_distinct(
                F.when(F.col("j") >= F.col("thr"), F.col("doc_b"))
            )
            .cast("long")
            .alias("n_docs_removable"),
        )
    )


@query(
    "source_schema_evolution",
    oracle="""
    SELECT n_nationkey,
           n_name,
           CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey END AS n_regionkey,
           n_nationkey % 2 = 0 AS from_v2
    FROM nation
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution via mergeSchema: generation v1 writes
    (n_nationkey, n_name) for odd keys, generation v2 adds n_regionkey
    for even keys; reading the directory with mergeSchema=true unions
    the schemas and NULL-fills v1's missing column — the append-only
    column-add pattern every long-lived lakehouse table lives through.
    The from_v2 flag (derived from file provenance via the column's
    nullness contract) makes the generation split part of the checked
    output.

    Determinism: the split is key parity; the merged read is
    value-lossless (oracle reproduces it from the source table).

    Scale shape: mergeSchema reads footers, not data, to reconcile
    schemas; per-file projection stays pushdown-friendly."""
    out = scratch_dir("schema_evo_")
    n = table(spark, sf_dir, "nation")
    v1 = n.where(F.col("n_nationkey") % 2 == 1).select("n_nationkey", "n_name")
    v2 = n.where(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "gen=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "gen=v2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(out, "gen=v1"), os.path.join(out, "gen=v2"))
    )
    return merged.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.col("n_regionkey").isNotNull().alias("from_v2"),
    )
