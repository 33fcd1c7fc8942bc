"""Wave-303: temperature/alpha sampling weights for multilingual-style
source mixing and the diagnostic likelihood-ratio family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_BUDGET = 100_000  # training-token budget for the effective-epoch audit


@query(
    "pipeline_temperature_sampling",
    oracle=f"""
    WITH per AS (
        SELECT source,
               CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS n FROM per),
    p AS (
        SELECT source, tokens,
               CAST(tokens AS DOUBLE) / n AS p_raw
        FROM per CROSS JOIN tot
    ),
    z AS (
        SELECT SUM(POWER(p_raw, 0.7)) AS z7,
               SUM(POWER(p_raw, 0.3)) AS z3
        FROM p
    )
    SELECT source, tokens,
           ROUND(p_raw, 6) AS p_raw,
           ROUND(POWER(p_raw, 0.7) / z7, 6) AS q_alpha07,
           ROUND(POWER(p_raw, 0.3) / z3, 6) AS q_alpha03,
           ROUND(POWER(p_raw, 0.3) / z3 * {_BUDGET} / tokens, 6)
               AS epochs_alpha03
    FROM p CROSS JOIN z
    """,
)
def pipeline_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature / exponent sampling weights for source mixing
    (Conneau & Lample, NeurIPS 2019, alpha = 0.7 for XLM; Conneau et
    al., ACL 2020, alpha = 0.3 for XLM-R — public): q_i proportional to
    p_i^alpha flattens the raw token shares so low-resource sources are
    up-sampled without letting any source dominate. Emitted per source:
    the raw share, both published alphas, and the effective EPOCH count
    at a 100k-token budget under alpha = 0.3 — the overfit audit (a
    source repeated 40x memorizes; the epochs column is what you check
    before accepting a flattened mixture). Complements
    pipeline_mixture_weights (quality-weighted) with the
    size-temperature family every multilingual run tunes.

    Determinism: token counts are exact integers; POWER/normalization
    are identical literal chains; ROUND 6.

    Scale shape: one groupBy(source) with map-side partials over the
    tokenized scan; normalizers are one-row broadcasts."""
    per = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " ")))
            .cast("long")
            .alias("tokens")
        )
    )
    tot = per.agg(F.sum("tokens").cast("long").alias("n"))
    p = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        (F.col("tokens").cast("double") / F.col("n")).alias("p_raw"),
    )
    z = p.agg(
        F.sum(F.pow("p_raw", F.lit(0.7))).alias("z7"),
        F.sum(F.pow("p_raw", F.lit(0.3))).alias("z3"),
    )
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        "tokens",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.pow("p_raw", F.lit(0.7)) / F.col("z7"), 6).alias(
            "q_alpha07"
        ),
        F.round(F.pow("p_raw", F.lit(0.3)) / F.col("z3"), 6).alias(
            "q_alpha03"
        ),
        F.round(
            F.pow("p_raw", F.lit(0.3)) / F.col("z3") * _BUDGET / F.col("tokens"),
            6,
        ).alias("epochs_alpha03"),
    )


@query(
    "model_diagnostic_ratios",
    oracle="""
    WITH mv AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS s,
               event_type = 'purchase' AS y
        FROM events
    ),
    vals AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS k FROM mv GROUP BY s
    ),
    cum AS (
        SELECT s, SUM(k) OVER (ORDER BY s) - k AS below,
               SUM(k) OVER (ORDER BY s) AS upto,
               SUM(k) OVER () AS n
        FROM vals
    ),
    thr AS (
        SELECT MIN(CASE WHEN below < CEIL(0.75 * n) AND CEIL(0.75 * n) <= upto
                        THEN s END) AS t
        FROM cum
    ),
    cm AS (
        SELECT CAST(SUM(CASE WHEN s > t AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN s > t AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN s <= t AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN s <= t AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM mv CROSS JOIN thr
    )
    SELECT tp, fp, fn, tn,
           ROUND((CAST(tp AS DOUBLE) / (tp + fn))
                 / (CAST(fp AS DOUBLE) / (fp + tn)), 6) AS lr_plus,
           ROUND((CAST(fn AS DOUBLE) / (tp + fn))
                 / (CAST(tn AS DOUBLE) / (fp + tn)), 6) AS lr_minus,
           ROUND((CAST(tp AS DOUBLE) * tn) / (CAST(fp AS DOUBLE) * fn), 6)
               AS diagnostic_or,
           ROUND(1.0 / ABS(CAST(tp AS DOUBLE) / (tp + fp)
                           - CAST(fn AS DOUBLE) / (fn + tn)), 6)
               AS nnt_style
    FROM cm
    """,
)
def model_diagnostic_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic likelihood ratios (Deeks & Altman, BMJ 2004; DOR per
    Glas et al., J. Clin. Epi. 2003 — public) for the value->purchase
    screen at the 75th-percentile threshold: LR+ = sens/(1-spec) (how
    much a positive result RAISES the odds), LR- = (1-sens)/spec,
    DOR = LR+/LR- = (TP·TN)/(FP·FN) — the single prevalence-free
    discrimination number — and the NNT-style 1/|risk difference|
    (Laupacis 1988). These are the PREVALENCE-INVARIANT members of the
    confusion family: precision/recall/F1/MCC all move when the base
    rate moves, LR± and DOR do not, which is why screening literature
    reports them. Threshold selection reuses the distinct-value
    rank-ceil(0.75n) device (guard-clean).

    Determinism: integer confusion counts; four short rounded chains.

    Scale shape: distinct-value collapse for the threshold, one
    broadcast-threshold confusion aggregation — linear."""
    mv = table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 1000).cast("long").alias("s"),
        (F.col("event_type") == "purchase").alias("y"),
    )
    from pyspark.sql.window import Window

    vals = mv.groupBy("s").agg(F.count("*").cast("long").alias("k"))
    wv = Window.orderBy("s")
    cum = vals.select(
        "s",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )
    r = F.ceil(0.75 * F.col("n"))
    thr = cum.agg(
        F.min(
            F.when((F.col("below") < r) & (r <= F.col("upto")), F.col("s"))
        ).alias("t")
    )
    cm = mv.crossJoin(F.broadcast(thr)).agg(
        F.sum(((F.col("s") > F.col("t")) & F.col("y")).cast("long")).alias("tp"),
        F.sum(((F.col("s") > F.col("t")) & ~F.col("y")).cast("long")).alias("fp"),
        F.sum(((F.col("s") <= F.col("t")) & F.col("y")).cast("long")).alias("fn"),
        F.sum(((F.col("s") <= F.col("t")) & ~F.col("y")).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round((tp / (tp + fn)) / (fp / (fp + tn)), 6).alias("lr_plus"),
        F.round((fn / (tp + fn)) / (tn / (fp + tn)), 6).alias("lr_minus"),
        F.round((tp * tn) / (fp * fn), 6).alias("diagnostic_or"),
        F.round(1.0 / F.abs(tp / (tp + fp) - fn / (fn + tn)), 6).alias(
            "nnt_style"
        ),
    )
