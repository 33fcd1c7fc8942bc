"""Wave-369: LLM watermark detection (Kirchenbauer, Geiping, Wen, Katz,
Miers & Goldstein, ICML 2023 — "A Watermark for Large Language Models")
and a MAUVE-style divergence frontier (Pillutla, Swayamdipta, Zellers,
Thickstun, Welleck, Choi & Harchaoui, NeurIPS 2021) over quantized
embedding histograms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_watermark_detection",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, t,
               UNNEST(range(len(t) - 1)) AS i
        FROM (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t
              FROM documents)
        WHERE len(t) >= 2
    ),
    pairs AS (
        SELECT doc_id, source,
               CASE WHEN SUBSTR(MD5(t[CAST(i + 1 AS INT)] || '|'
                                     || t[CAST(i + 2 AS INT)]), 1, 1)
                         IN ('0','2','4','6','8','a','c','e')
                    THEN 1 ELSE 0 END AS green
        FROM toks
    ),
    per_doc AS (
        SELECT doc_id, source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(green) AS BIGINT) AS g
        FROM pairs GROUP BY doc_id, source
    ),
    z AS (
        SELECT source,
               (g - 0.5 * n) / SQRT(n * 0.25) AS zv
        FROM per_doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(zv), 6) AS avg_z,
           CAST(SUM(CASE WHEN zv > 4.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM z GROUP BY source ORDER BY source
    """,
)
def text_watermark_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical watermark detection (Kirchenbauer et al., ICML 2023):
    the watermark seeds a green/red vocabulary split from the PREVIOUS
    token's hash and boosts green tokens; the detector needs no model —
    per document, count bigrams whose successor lands in the green list
    (here the deterministic md5(prev|cur) even-nibble split, γ = ½) and
    score z = (g − γn)/√(nγ(1−γ)). Unwatermarked text sits near z = 0;
    the paper flags z > 4. Per-source rollup: mean z and flag counts —
    the corpus-audit shape a training pipeline runs to keep synthetic
    (watermarked) text out of pretraining data.

    Determinism: md5 is identical in both engines; green counts are
    exact integers; z is one fixed double chain; ROUND 6.

    Scale shape: explode → per-doc bigram aggregate (map-side partials
    on the doc key) → source rollup; no shuffle wider than the doc
    collapse."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("t")
    )
    pairs = (
        d.where(F.size("t") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> CASE WHEN substring(md5(concat(t[i], '|', t[i+1])),"
                    " 1, 1) IN ('0','2','4','6','8','a','c','e')"
                    " THEN 1 ELSE 0 END)"
                )
            ).alias("green"),
        )
    )
    per_doc = pairs.groupBy("doc_id", "source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("green").cast("long").alias("g"),
    )
    zv = (F.col("g") - 0.5 * F.col("n")) / F.sqrt(F.col("n") * 0.25)
    return (
        per_doc.select("source", zv.alias("zv"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("zv"), 6).alias("avg_z"),
            F.sum(F.when(F.col("zv") > 4.0, 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


@query(
    "model_mauve_frontier",
    oracle="""
    WITH cells AS (
        SELECT vec_id,
               CAST(vec_id % 2 AS BIGINT) AS half,
               CAST(CASE WHEN embedding[1] >= 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS cell
        FROM embeddings
    ),
    hist AS (
        SELECT half, cell, COUNT(*) AS c FROM cells GROUP BY half, cell
    ),
    grid AS (
        SELECT CAST(h.range AS BIGINT) AS half, CAST(c.range AS BIGINT)
                   AS cell
        FROM range(2) h CROSS JOIN range(8) c
    ),
    dense AS (
        SELECT g.half, g.cell, COALESCE(hist.c, 0) + 1 AS c
        FROM grid g LEFT JOIN hist
          ON hist.half = g.half AND hist.cell = g.cell
    ),
    probs AS (
        SELECT cell,
               MAX(CASE WHEN half = 0 THEN c END) * 1.0
                   / (SELECT SUM(c) FROM dense WHERE half = 0) AS p,
               MAX(CASE WHEN half = 1 THEN c END) * 1.0
                   / (SELECT SUM(c) FROM dense WHERE half = 1) AS q
        FROM dense GROUP BY cell
    ),
    lam AS (SELECT (range + 1) / 10.0 AS l FROM range(9)),
    fr AS (
        SELECT l.l, pr.cell, pr.p, pr.q,
               l.l * pr.p + (1.0 - l.l) * pr.q AS r
        FROM lam l CROSS JOIN probs pr
    )
    SELECT ROUND(l, 1) AS mix_lambda,
           ROUND(SUM(p * LN(p / r)), 6) AS kl_p_r,
           ROUND(SUM(q * LN(q / r)), 6) AS kl_q_r
    FROM fr GROUP BY l ORDER BY mix_lambda
    """,
)
def model_mauve_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAUVE-style divergence frontier (Pillutla et al., NeurIPS 2021):
    MAUVE compares generated vs human text by quantizing embeddings into
    cluster histograms P, Q and tracing KL(P‖R_λ) vs KL(Q‖R_λ) along
    mixtures R_λ = λP + (1−λ)Q; the area under that frontier is the
    score. Here the two corpora are the even/odd embedding halves, the
    quantizer is the first-3-dimension sign octant (the simhash-style
    cell the registry's LSH family already uses), histograms carry
    add-one smoothing, and the frontier is reported at λ = 0.1..0.9 —
    the full curve, from which any downstream scalar (area, max-min)
    follows.

    Determinism: cell assignment is exact sign arithmetic; histogram
    counts are integers; the KL folds are fixed double chains over the
    8-cell frame; ROUND 6.

    Scale shape: one pass over embeddings to 16 (half, cell) counts;
    the frontier grid is constant-size (9 × 8)."""
    e = table(spark, sf_dir, "embeddings")
    cells = e.select(
        (F.col("vec_id") % 2).cast("long").alias("half"),
        (
            F.when(F.element_at("embedding", 1) >= 0, 4).otherwise(0)
            + F.when(F.element_at("embedding", 2) >= 0, 2).otherwise(0)
            + F.when(F.element_at("embedding", 3) >= 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("cell"),
    )
    hist = cells.groupBy("half", "cell").agg(F.count("*").alias("c"))
    grid = (
        spark.range(2)
        .select(F.col("id").alias("half"))
        .crossJoin(spark.range(8).select(F.col("id").alias("cell")))
    )
    dense = grid.join(F.broadcast(hist), ["half", "cell"], "left").select(
        "half", "cell", (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("c")
    )
    tots = dense.groupBy("half").agg(F.sum("c").alias("tot"))
    probs = (
        dense.join(F.broadcast(tots), "half")
        .groupBy("cell")
        .agg(
            F.max(
                F.when(F.col("half") == 0, F.col("c") * 1.0 / F.col("tot"))
            ).alias("p"),
            F.max(
                F.when(F.col("half") == 1, F.col("c") * 1.0 / F.col("tot"))
            ).alias("q"),
        )
    )
    lam = spark.range(9).select(((F.col("id") + 1) / 10.0).alias("l"))
    fr = lam.crossJoin(F.broadcast(probs)).select(
        "l",
        "p",
        "q",
        (F.col("l") * F.col("p") + (1.0 - F.col("l")) * F.col("q")).alias("r"),
    )
    return (
        fr.groupBy("l")
        .agg(
            F.round(
                F.sum(F.col("p") * F.log(F.col("p") / F.col("r"))), 6
            ).alias("kl_p_r"),
            F.round(
                F.sum(F.col("q") * F.log(F.col("q") / F.col("r"))), 6
            ).alias("kl_q_r"),
        )
        .select(F.round("l", 1).alias("mix_lambda"), "kl_p_r", "kl_q_r")
        .orderBy("mix_lambda")
    )
