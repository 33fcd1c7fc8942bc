"""Wave-379: Almost Stochastic Order (del Barrio, Cuesta-Albertos &
Matrán 2018; Dror et al., ACL 2019 — "Deep Dominance", the significance
comparison protocol for deep-model score distributions) and a canary
exposure audit (Carlini et al., USENIX Security 2019 "The Secret Sharer"
— here the data-side leak scan: which corpus documents share long spans
with planted canaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 100  # quantile grid size (midpoint grid (2i-1)/2K)


@query(
    "model_almost_stochastic_order",
    oracle=f"""
    WITH u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CAST(ROUND(value * 1000) AS BIGINT) AS v
        FROM events
    ),
    dv AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY g, v
    ),
    cum AS (
        SELECT g, v,
               SUM(cnt) OVER (PARTITION BY g ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY g) AS n
        FROM dv
    ),
    grid AS (SELECT UNNEST(RANGE(1, {_K} + 1)) AS i),
    q AS (
        -- F^-1((2i-1)/2K) = smallest v with cum >= ceil((2i-1) * n / 2K)
        -- (exact integer ceil division)
        SELECT c.g, gr.i, MIN(c.v) AS qv
        FROM cum c JOIN grid gr
          ON c.cum >= ((2 * gr.i - 1) * c.n + 2 * {_K} - 1) // (2 * {_K})
        GROUP BY c.g, gr.i
    ),
    d AS (
        SELECT a.i, b.qv - a.qv AS diff
        FROM q a JOIN q b ON b.i = a.i AND b.g = 0
        WHERE a.g = 1
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN diff > 0 THEN diff * diff ELSE 0 END)
                    AS BIGINT) AS viol,
               CAST(SUM(diff * diff) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM d
    )
    SELECT k AS n_grid,
           viol AS violation_sq_sum,
           tot AS total_sq_sum,
           ROUND(CASE WHEN tot = 0 THEN 0.5
                      ELSE CAST(viol AS DOUBLE) / tot END, 6) AS eps_aso,
           CASE WHEN tot = 0 THEN FALSE ELSE 2 * viol < tot END
               AS weekend_almost_dominates
    FROM s
    """,
)
def model_almost_stochastic_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Almost Stochastic Order (ASO) between weekend and weekday event
    values, treated as two model score distributions: on the midpoint
    quantile grid t_i = (2i−1)/2K (K = 100), ε = Σ(F⁻¹_B − F⁻¹_A)₊² /
    Σ(F⁻¹_B − F⁻¹_A)² — the violation ratio of del Barrio et al. that
    Dror et al. made the deep-model comparison standard (ε < 0.5 ⇒ "A
    almost stochastically dominates B"). Quantiles are exact integer
    order statistics via the distinct-value EDF collapse, so ε is an
    exact rational and the dominance verdict is an exact integer
    comparison (2·viol < tot) — no float enters until the display round.

    Scale shape: distinct-value collapse per group, one partitioned
    prefix window over the bounded value grid, a 100-row broadcast grid
    join, then 1-row aggregates."""
    u = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
        F.round(F.col("value") * 1000).cast("long").alias("v"),
    )
    dv = u.groupBy("g", "v").agg(F.count("*").cast("long").alias("cnt"))
    wcum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dv.select(
        "g",
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("g")).alias("n"),
    )
    grid = spark.range(1, _K + 1).select(F.col("id").alias("i"))
    thr = F.expr(f"((2 * i - 1) * n + 2 * {_K} - 1) div (2 * {_K})")
    q = (
        cum.join(F.broadcast(grid), F.col("cum") >= thr)
        .groupBy("g", "i")
        .agg(F.min("v").alias("qv"))
    )
    a = q.where(F.col("g") == 1).select(F.col("i").alias("ia"), F.col("qv").alias("qa"))
    b = q.where(F.col("g") == 0).select(F.col("i").alias("ib"), F.col("qv").alias("qb"))
    d = a.join(b, F.col("ib") == F.col("ia")).select(
        (F.col("qb") - F.col("qa")).alias("diff")
    )
    s = d.agg(
        F.sum(
            F.when(F.col("diff") > 0, F.col("diff") * F.col("diff")).otherwise(0)
        )
        .cast("long")
        .alias("viol"),
        F.sum(F.col("diff") * F.col("diff")).cast("long").alias("tot"),
        F.count("*").cast("long").alias("k"),
    )
    return s.select(
        F.col("k").alias("n_grid"),
        F.col("viol").alias("violation_sq_sum"),
        F.col("tot").alias("total_sq_sum"),
        F.round(
            F.when(F.col("tot") == 0, 0.5).otherwise(
                F.col("viol").cast("double") / F.col("tot")
            ),
            6,
        ).alias("eps_aso"),
        F.when(F.col("tot") == 0, F.lit(False))
        .otherwise(2 * F.col("viol") < F.col("tot"))
        .alias("weekend_almost_dominates"),
    )


_SHINGLE = 8  # canary span length (tokens)


@query(
    "pipeline_canary_exposure",
    oracle=f"""
    WITH canaries AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE doc_id % 101 = 7
          AND LEN(STRING_SPLIT(text, ' ')) >= {_SHINGLE}
    ),
    can_sh AS (
        SELECT DISTINCT doc_id AS canary_id,
               ARRAY_TO_STRING(LIST_SLICE(toks, i, i + {_SHINGLE} - 1), ' ')
                   AS s
        FROM (SELECT doc_id, toks,
                     UNNEST(RANGE(1, n - {_SHINGLE} + 2)) AS i
              FROM canaries)
    ),
    corpus AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE doc_id % 101 <> 7
          AND LEN(STRING_SPLIT(text, ' ')) >= {_SHINGLE}
    ),
    corp_sh AS (
        SELECT DISTINCT doc_id,
               ARRAY_TO_STRING(LIST_SLICE(toks, i, i + {_SHINGLE} - 1), ' ')
                   AS s
        FROM (SELECT doc_id, toks,
                     UNNEST(RANGE(1, n - {_SHINGLE} + 2)) AS i
              FROM corpus)
    ),
    hits AS (
        SELECT c.canary_id,
               CAST(COUNT(DISTINCT x.doc_id) AS BIGINT) AS n_leaking_docs,
               CAST(COUNT(DISTINCT c.s) AS BIGINT) AS n_leaked_spans
        FROM can_sh c JOIN corp_sh x ON x.s = c.s
        GROUP BY c.canary_id
    )
    SELECT ca.doc_id AS canary_id,
           COALESCE(h.n_leaking_docs, 0) AS n_leaking_docs,
           COALESCE(h.n_leaked_spans, 0) AS n_leaked_spans,
           COALESCE(h.n_leaking_docs, 0) > 0 AS exposed
    FROM canaries ca LEFT JOIN hits h ON h.canary_id = ca.doc_id
    """,
)
def pipeline_canary_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canary exposure audit (the data-side half of Carlini's Secret
    Sharer protocol): documents with doc_id ≡ 7 (mod 101) are the planted
    canaries; any OTHER corpus document sharing an exact 8-token span
    with a canary is a leak — the scan a training pipeline runs before
    trusting its dedup to have isolated secrets. Emits, per canary, how
    many corpus documents leak it and how many of its spans leaked.

    Determinism: the registry's shingle convention (split on single
    space, contiguous 8-token spans, DISTINCT per doc); all counts exact.

    Scale shape: shingle explode on both sides then one equi-join on the
    span string — the canary side is ~1% of the corpus, so the join
    build side is small; at 100 TB the span strings would be sha2-hashed
    first (same plan shape as dedup_exact_substring's fingerprint
    join)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    ).where(F.col("n") >= _SHINGLE)
    spans = F.transform(
        F.sequence(F.lit(1), F.col("n") - _SHINGLE + 1),
        lambda i: F.array_join(F.slice("toks", i, _SHINGLE), " "),
    )
    canaries = base.where(F.col("doc_id") % 101 == 7)
    can_sh = (
        canaries.select(
            F.col("doc_id").alias("canary_id"), F.explode(spans).alias("s")
        )
        .distinct()
    )
    corp_sh = (
        base.where(F.col("doc_id") % 101 != 7)
        .select("doc_id", F.explode(spans).alias("s"))
        .distinct()
    )
    hits = (
        can_sh.join(corp_sh, "s")
        .groupBy("canary_id")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_leaking_docs"),
            F.countDistinct("s").cast("long").alias("n_leaked_spans"),
        )
    )
    return (
        canaries.select(F.col("doc_id").alias("canary_id"))
        .join(hits, "canary_id", "left")
        .select(
            "canary_id",
            F.coalesce(F.col("n_leaking_docs"), F.lit(0)).alias("n_leaking_docs"),
            F.coalesce(F.col("n_leaked_spans"), F.lit(0)).alias("n_leaked_spans"),
            (F.coalesce(F.col("n_leaking_docs"), F.lit(0)) > 0).alias("exposed"),
        )
    )
