"""Wave-68: Shapley-value channel attribution, ROUGE n-gram overlap
metrics.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_CHANNELS = ["click", "error", "signup", "view"]
_FACT = [1, 1, 2, 6, 24]


def _subsets() -> list[str]:
    out = []
    for r in range(len(_CHANNELS) + 1):
        for combo in combinations(_CHANNELS, r):
            out.append(",".join(combo))  # sorted by construction
    return out


def _w(s: int) -> float:
    n = len(_CHANNELS)
    return _FACT[s] * _FACT[n - s - 1] / _FACT[n]


def _shapley_terms_sql() -> str:
    rows = []
    for ch in _CHANNELS:
        for s in _subsets():
            parts = [p for p in s.split(",") if p]
            if ch in parts:
                continue
            with_ch = ",".join(sorted([*parts, ch]))
            rows.append(f"('{ch}', '{s}', '{with_ch}', {_w(len(parts))!r})")
    return ",\n            ".join(rows)


@query(
    "events_attribution_shapley",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               COALESCE(ARRAY_TO_STRING(
                   LIST(DISTINCT event_type ORDER BY event_type)
                       FILTER (WHERE event_type <> 'purchase'), ','), '') AS s,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT s, SUM(conv) * 1.0 / COUNT(*) AS rate FROM per_user GROUP BY s
    ),
    terms(channel, s_without, s_with, w) AS (
        VALUES
            {{TERMS}}
    )
    SELECT t.channel,
           ROUND(SUM(t.w * (COALESCE(vw.rate, 0) - COALESCE(vo.rate, 0))), 6)
               AS shapley_value
    FROM terms t
    LEFT JOIN v vw ON vw.s = t.s_with
    LEFT JOIN v vo ON vo.s = t.s_without
    GROUP BY t.channel
    """.replace("{TERMS}", _shapley_terms_sql()),
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution (Shapley 1953; the
    data-driven-attribution formulation of Zhao et al. 2018, public):
    v(S) = conversion rate of users exposed to EXACTLY channel set S
    (the four non-purchase event types), and each channel's credit is
    the factorially-weighted average of its marginal contribution over
    all 2^3 subsets it can join — the game-theoretic split that
    last-touch/U-shaped heuristics approximate. Unseen subsets
    contribute v = 0 (the standard zero-extension).

    Determinism: rates are exact integer ratios; each Shapley value
    sums 8 bounded double terms under 6dp rounding; the 32-term
    (channel, subset) schedule is a literal in both engines.

    Scale shape: one user groupBy builds exact exposure sets; v is a
    16-row aggregate; the Shapley contraction is literal-table joins."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.collect_list(
                        F.when(F.col("event_type") != "purchase", F.col("event_type"))
                    )
                )
            ),
            ",",
        ).alias("s"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    v = per_user.groupBy("s").agg(
        (F.sum("conv") * 1.0 / F.count("*")).alias("rate")
    )
    terms = []
    for ch in _CHANNELS:
        for s in _subsets():
            parts = [p for p in s.split(",") if p]
            if ch in parts:
                continue
            terms.append((ch, s, ",".join(sorted([*parts, ch])), _w(len(parts))))
    tdf = spark.createDataFrame(
        terms, "channel string, s_without string, s_with string, w double"
    )
    vw = v.select(F.col("s").alias("s_with"), F.col("rate").alias("rate_with"))
    vo = v.select(F.col("s").alias("s_without"), F.col("rate").alias("rate_without"))
    return (
        tdf.join(F.broadcast(vw), "s_with", "left")
        .join(F.broadcast(vo), "s_without", "left")
        .groupBy("channel")
        .agg(
            F.round(
                F.sum(
                    F.col("w")
                    * (
                        F.coalesce("rate_with", F.lit(0.0))
                        - F.coalesce("rate_without", F.lit(0.0))
                    )
                ),
                6,
            ).alias("shapley_value")
        )
    )


@query(
    "text_rouge_pairs",
    oracle="""
    WITH pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text AS ta, b.text AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
        WHERE a.doc_id < 50
    ),
    u1a AS (
        SELECT p.id_a, t.tok, COUNT(*) AS c
        FROM pairs p, UNNEST(STRING_SPLIT(p.ta, ' ')) AS t(tok)
        GROUP BY p.id_a, t.tok
    ),
    u1b AS (
        SELECT p.id_b, t.tok, COUNT(*) AS c
        FROM pairs p, UNNEST(STRING_SPLIT(p.tb, ' ')) AS t(tok)
        GROUP BY p.id_b, t.tok
    ),
    ov1 AS (
        SELECT p.id_a, p.id_b,
               SUM(LEAST(a.c, b.c)) AS overlap
        FROM pairs p
        JOIN u1a a ON a.id_a = p.id_a
        JOIN u1b b ON b.id_b = p.id_b AND b.tok = a.tok
        GROUP BY p.id_a, p.id_b
    ),
    lens AS (
        SELECT id_a, id_b,
               LEN(STRING_SPLIT(ta, ' ')) AS la,
               LEN(STRING_SPLIT(tb, ' ')) AS lb
        FROM pairs
    )
    SELECT l.id_a, l.id_b,
           CAST(COALESCE(o.overlap, 0) AS BIGINT) AS unigram_overlap,
           ROUND(COALESCE(o.overlap, 0) * 1.0 / l.lb, 6) AS rouge1_recall,
           ROUND(COALESCE(o.overlap, 0) * 1.0 / l.la, 6) AS rouge1_precision,
           ROUND(2.0 * COALESCE(o.overlap, 0) / (l.la + l.lb), 6) AS rouge1_f1
    FROM lens l LEFT JOIN ov1 o ON o.id_a = l.id_a AND o.id_b = l.id_b
    """,
)
def text_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 overlap metrics (Lin 2004, public) over candidate doc
    pairs (doc i vs doc i+250 standing in for the candidate/reference
    pairs an upstream dedup or summarization stage emits): clipped
    unigram-multiset overlap → recall, precision, F1 — the evaluation
    arithmetic every summarization/paraphrase pipeline runs at corpus
    scale.

    Determinism: clipped counts are exact integer mins; all three
    scores are exact ratios.

    Scale shape: per-side token multisets build in map-side-combined
    groupBys; the overlap is an equi-join on (pair, token) — never a
    cross of the corpora."""
    d = table(spark, sf_dir, "documents")
    a = d.where(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("ta")
    )
    b = d.select((F.col("doc_id") - 250).alias("id_a"), F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    pairs = a.join(b, "id_a")
    u1a = (
        pairs.select("id_a", F.explode(F.split("ta", " ")).alias("tok"))
        .groupBy("id_a", "tok")
        .agg(F.count("*").alias("ca"))
    )
    u1b = (
        pairs.select("id_b", F.explode(F.split("tb", " ")).alias("tok"))
        .groupBy("id_b", "tok")
        .agg(F.count("*").alias("cb"))
    )
    key = pairs.select("id_a", "id_b")
    ov = (
        key.join(u1a, "id_a")
        .join(u1b, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("ca", "cb")).alias("overlap"))
    )
    lens = pairs.select(
        "id_a",
        "id_b",
        F.size(F.split("ta", " ")).alias("la"),
        F.size(F.split("tb", " ")).alias("lb"),
    )
    o = F.coalesce("overlap", F.lit(0))
    return lens.join(ov, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        o.cast("long").alias("unigram_overlap"),
        F.round(o * 1.0 / F.col("lb"), 6).alias("rouge1_recall"),
        F.round(o * 1.0 / F.col("la"), 6).alias("rouge1_precision"),
        F.round(2.0 * o / (F.col("la") + F.col("lb")), 6).alias("rouge1_f1"),
    )
