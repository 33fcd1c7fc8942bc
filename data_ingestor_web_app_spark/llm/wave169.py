"""Wave-169: LM smoothing classics and stylometry — interpolated
Kneser-Ney bigrams, Witten-Bell unseen mass, and Burrows' Delta
authorship distance between sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_D = 0.75  # absolute discount (the standard KN default)

_BIGRAM_SQL = """tok AS (
        SELECT doc_id, w, i FROM (
            SELECT doc_id,
                   UNNEST(STRING_SPLIT(text, ' ')) AS w,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS i
            FROM documents)
    ),
    bg AS (
        SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        GROUP BY a.w, b.w
    )"""


@query(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH {_BIGRAM_SQL},
    uni AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1,
                   CAST(COUNT(*) AS BIGINT) AS n_follow
            FROM bg GROUP BY w1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_prec FROM bg GROUP BY w2),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types FROM bg),
    scored AS (
        SELECT bg.w1, bg.w2, bg.c,
               ROUND((bg.c - {_D}) / uni.cw1
                     + {_D} * uni.n_follow / uni.cw1
                       * cont.n_prec * 1e0 / tot.n_bigram_types, 6) AS p_kn
        FROM bg
        JOIN uni ON uni.w1 = bg.w1
        JOIN cont ON cont.w2 = bg.w2
        CROSS JOIN tot
        WHERE bg.c > {_D}
    )
    SELECT w1, w2, c, p_kn FROM (
        SELECT w1, w2, c, p_kn,
               ROW_NUMBER() OVER (ORDER BY p_kn DESC, w1, w2) AS rk
        FROM scored) t
    WHERE rk <= 20
    """,
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995,
    public), the smoothing that made n-gram LMs competitive for a decade:
    P(w2|w1) = max(c−d,0)/c(w1) + d·|follow(w1)|/c(w1) · P_cont(w2),
    where the continuation probability P_cont(w2) counts how many DISTINCT
    contexts precede w2 (not how often — the "San Francisco" insight: a
    word frequent in one context only should get little unseen-context
    mass). d = 0.75, the standard discount. Emits the top-20 bigrams by
    KN probability (c > d keeps the max() branch linear).

    Determinism: every count exact; one fixed float chain per bigram,
    ROUND 6; total-order tie-break.

    Scale shape: bigrams from a positional self-join (i+1 adjacency) —
    at 100 TB the tokenizer emits (doc, i, w) once and the adjacency
    join shuffles on doc; all three count tables are groupBys; the
    scoring join is on bigram keys."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("i0", "w")).select(
        "doc_id", (F.col("i0") + 1).alias("i"), "w"
    )
    a = tok.select("doc_id", "i", F.col("w").alias("w1"))
    b = tok.select("doc_id", (F.col("i") - 1).alias("i"), F.col("w").alias("w2"))
    bg = (
        a.join(b, ["doc_id", "i"])
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c"))
    )
    uni = bg.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cw1"),
        F.count("*").cast("long").alias("n_follow"),
    )
    cont = bg.groupBy("w2").agg(F.count("*").cast("long").alias("n_prec"))
    tot = bg.agg(F.count("*").cast("long").alias("n_bigram_types"))
    scored = (
        bg.where(F.col("c") > _D)
        .join(uni, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            F.round(
                (F.col("c") - _D) / F.col("cw1")
                + _D
                * F.col("n_follow")
                / F.col("cw1")
                * F.col("n_prec")
                * F.lit(1.0)
                / F.col("n_bigram_types"),
                6,
            ).alias("p_kn"),
        )
    )
    w = Window.orderBy(F.col("p_kn").desc(), "w1", "w2")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
        .select("w1", "w2", "c", "p_kn")
    )


@query(
    "text_witten_bell_mass",
    oracle="""
    WITH tok AS (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
        FROM tok GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           ROUND(n_types * 1e0 / (n_types + n_tokens), 6) AS unseen_mass,
           ROUND(n_tokens * 1e0 / (n_types + n_tokens) / n_tokens, 9)
               AS per_seen_token_weight
    FROM per
    """,
)
def text_witten_bell_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Witten-Bell smoothing mass (Witten & Bell 1991, public): the
    probability reserved for UNSEEN words is T/(T+N) — types over types
    plus tokens — the "how often did I meet a new word" estimator. Per
    source: token/type counts, the unseen mass, and the per-seen-token
    weight (1−λ)/N. The diversity-driven smoothing dual of wave-167's
    add-k perplexity: corpora with fat vocab tails reserve more mass.

    Determinism: exact counts, two rounded divisions.

    Scale shape: one tokenize + two distinct-ish aggregations per
    source."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    per = tok.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.count_distinct("w").cast("long").alias("n_types"),
    )
    lam = F.col("n_types") * F.lit(1.0) / (F.col("n_types") + F.col("n_tokens"))
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(lam, 6).alias("unseen_mass"),
        F.round(
            F.col("n_tokens")
            * F.lit(1.0)
            / (F.col("n_types") + F.col("n_tokens"))
            / F.col("n_tokens"),
            9,
        ).alias("per_seen_token_weight"),
    )


_N_MFW = 30  # most-frequent-word feature set size


@query(
    "text_burrows_delta",
    oracle=f"""
    WITH tok AS (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    mfw AS (
        SELECT w FROM (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
            FROM tok GROUP BY w) t
        WHERE rk <= {_N_MFW}
    ),
    src_tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY source
    ),
    freq AS (
        SELECT t.source, t.w, COUNT(*) * 1e4 / ANY_VALUE(s.n) AS f
        FROM tok t
        JOIN mfw ON mfw.w = t.w
        JOIN src_tot s ON s.source = t.source
        GROUP BY t.source, t.w
    ),
    grid AS (
        SELECT s.source, m.w, COALESCE(f.f, 0e0) AS f
        FROM (SELECT DISTINCT source FROM tok) s
        CROSS JOIN mfw m
        LEFT JOIN freq f ON f.source = s.source AND f.w = m.w
    ),
    stats AS (
        SELECT w, AVG(f) AS mu, STDDEV_SAMP(f) AS sd FROM grid GROUP BY w
    ),
    z AS (
        SELECT g.source, g.w, (g.f - st.mu) / st.sd AS z
        FROM grid g JOIN stats st ON st.w = g.w
        WHERE st.sd > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           ROUND(AVG(ABS(a.z - b.z)), 6) AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (Burrows 2002, public — THE stylometric authorship
    distance): restrict to the 30 most frequent words corpus-wide,
    compute each source's per-10k-token rate, z-score each word across
    sources, and Delta(a,b) = mean |z_a − z_b|. Function-word usage
    patterns are the authorial fingerprint content words can't fake —
    here it measures which fixture sources "write alike".

    Determinism: the MFW set has a total-order tie-break; rates are
    exact-count ratios; z-scores and the mean-absolute aggregation are
    short float chains, ROUND 6 (zero-variance words excluded in both
    engines).

    Scale shape: MFW selection is a global top-k (heap); the z grid is
    |sources| x 30 — tiny; everything downstream is broadcast-scale."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    w_rk = Window.orderBy(F.count("*").desc(), F.col("w"))
    mfw = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .select("w", F.row_number().over(Window.orderBy(F.col("c").desc(), "w")).alias("rk"))
        .where(F.col("rk") <= _N_MFW)
        .select("w")
    )
    src_tot = tok.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    freq = (
        tok.join(F.broadcast(mfw), "w")
        .join(F.broadcast(src_tot), "source")
        .groupBy("source", "w")
        .agg((F.count("*") * 1e4 / F.first("n")).alias("f"))
    )
    sources = tok.select("source").distinct()
    grid = (
        sources.crossJoin(F.broadcast(mfw))
        .join(freq, ["source", "w"], "left")
        .select("source", "w", F.coalesce(F.col("f"), F.lit(0.0)).alias("f"))
    )
    stats = grid.groupBy("w").agg(
        F.avg("f").alias("mu"), F.stddev_samp("f").alias("sd")
    )
    z = (
        grid.join(F.broadcast(stats), "w")
        .where(F.col("sd") > 0)
        .select("source", "w", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z"))
    )
    a = z.select(F.col("source").alias("source_a"), "w", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "w", F.col("z").alias("zb"))
    return (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias("delta"))
    )
