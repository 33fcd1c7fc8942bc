"""Wave-191: Yule's K + Simpson diversity, Juilland's dispersion for the
top tokens, and a grouped-Lorenz token-frequency Gini.

All three are vocabulary-distribution diagnostics built so that every
intermediate is an exact integer: K and Simpson come from the frequency
spectrum V(m), Juilland's D from per-source count moments, and the Gini
from the grouped Lorenz identity -- the rank-sum over a tied frequency
group collapses to m*V(m)*(2*cumV + V(m) + 1), so no vocabulary-sized
window or sort is ever single-partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_yule_k_simpson",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    freqs AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY tok
    ),
    spectrum AS (
        SELECT f AS m, CAST(COUNT(*) AS BIGINT) AS vm
        FROM freqs GROUP BY f
    ),
    agg AS (
        SELECT CAST(SUM(m * vm) AS BIGINT) AS n,
               CAST(SUM(vm) AS BIGINT) AS v,
               CAST(SUM(CAST(m AS HUGEINT) * m * vm) AS HUGEINT) AS sm2,
               CAST(SUM(CAST(m AS HUGEINT) * (m - 1) * vm) AS HUGEINT)
                   AS sff1
        FROM spectrum
    )
    SELECT n AS n_tokens, v AS n_vocab,
           ROUND(10000.0e0 * CAST(sm2 - n AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n), 6) AS yule_k,
           ROUND(CAST(sff1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS simpson_d
    FROM agg
    """,
)
def text_yule_k_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K and Simpson's repeat-rate over the corpus
    token distribution: K = 10^4 * (sum m^2 V(m) - N) / N^2 and
    D = sum f(f-1) / (N(N-1)) -- the two classical vocabulary-richness
    constants (both are size-invariant, unlike raw type/token ratio,
    which is why they survive at 100 TB where TTR collapses).

    Determinism: everything up to the final two divisions is an exact
    integer on the frequency SPECTRUM V(m) (m^2 V(m) needs 128-bit at
    scale); identical expression shape both engines.

    Scale shape: groupBy(token) then groupBy(frequency) -- the spectrum
    is tiny (distinct frequency values), so the statistic costs one
    vocabulary aggregation with map-side partials."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    freqs = toks.groupBy("tok").agg(F.count("*").cast("long").alias("f"))
    spectrum = freqs.groupBy(F.col("f").alias("m")).agg(
        F.count("*").cast("long").alias("vm")
    )
    dec = "decimal(38,0)"
    agg = spectrum.agg(
        F.sum(F.col("m") * F.col("vm")).cast("long").alias("n"),
        F.sum("vm").cast("long").alias("v"),
        F.sum(F.col("m").cast(dec) * F.col("m") * F.col("vm")).alias("sm2"),
        F.sum(F.col("m").cast(dec) * (F.col("m") - 1) * F.col("vm")).alias("sff1"),
    )
    return agg.select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_vocab"),
        F.round(
            F.lit(10000.0)
            * (F.col("sm2") - F.col("n")).cast("double")
            / (F.col("n").cast("double") * F.col("n")),
            6,
        ).alias("yule_k"),
        F.round(
            F.col("sff1").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            6,
        ).alias("simpson_d"),
    )


@query(
    "text_juilland_dispersion",
    oracle="""
    WITH toks AS (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
        FROM documents
    ),
    nsrc AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS k
             FROM documents),
    headtok AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS total
        FROM toks GROUP BY tok
        ORDER BY total DESC, tok LIMIT 20
    ),
    cells AS (
        SELECT t.tok, t.source, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks t JOIN headtok g ON g.tok = t.tok
        GROUP BY t.tok, t.source
    ),
    moms AS (
        SELECT tok,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
        FROM cells GROUP BY tok
    )
    SELECT m.tok AS token, m.s AS total,
           ROUND(1 - SQRT(CAST(k * s2 - CAST(m.s AS HUGEINT) * m.s
                               AS DOUBLE))
                     / (m.s * SQRT(CAST(k AS DOUBLE) - 1)), 6)
               AS juilland_d
    FROM moms m CROSS JOIN nsrc
    """,
)
def text_juilland_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Juilland's dispersion D for the 20 most frequent tokens: how evenly
    a token spreads across the corpus sources, D = 1 - CV/sqrt(k-1)
    (D near 1 = uniform presence, near 0 = concentrated in one shard).
    The standard corpus-linguistics complement to raw frequency -- a
    'the' should disperse; a boilerplate artifact should not.

    Determinism: top-20 selection is a total order (count desc, token
    asc) via sort+limit; per-source moments are exact integers, absent
    sources contribute exactly zero through the population-variance
    identity k*S2 - S^2 (no dense grid needed); one sqrt at the end with
    identical shape.

    Scale shape: two token-level groupBys with map-side partials; the
    top-20 is TakeOrdered (per-partition heads + driver merge), never a
    vocabulary-wide window."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    # source-dim count folded in as a 1-row broadcast (no build-time job)
    kf = docs.select("source").distinct().agg(
        F.count("*").cast("long").alias("k_src")
    )
    glob = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("total"))
        .orderBy(F.col("total").desc(), "tok")
        .limit(20)
    )
    cells = (
        toks.join(F.broadcast(glob.select("tok")), "tok")
        .groupBy("tok", "source")
        .agg(F.count("*").cast("long").alias("c"))
    )
    dec = "decimal(38,0)"
    moms = cells.groupBy("tok").agg(
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("s2"),
    )
    return moms.crossJoin(F.broadcast(kf)).select(
        F.col("tok").alias("token"),
        F.col("s").alias("total"),
        F.round(
            1
            - F.sqrt(
                (
                    F.col("k_src").cast(dec) * F.col("s2")
                    - F.col("s").cast(dec) * F.col("s")
                ).cast("double")
            )
            / (F.col("s") * F.sqrt(F.col("k_src").cast("double") - 1)),
            6,
        ).alias("juilland_d"),
    )


@query(
    "text_token_gini",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    freqs AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY tok
    ),
    spectrum AS (
        SELECT f AS m, CAST(COUNT(*) AS BIGINT) AS vm
        FROM freqs GROUP BY f
    ),
    lorenz AS (
        SELECT m, vm,
               CAST(COALESCE(SUM(vm) OVER (ORDER BY m ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS cumv
        FROM spectrum
    ),
    agg AS (
        SELECT CAST(SUM(m * vm) AS BIGINT) AS n,
               CAST(SUM(vm) AS BIGINT) AS v,
               CAST(SUM(CAST(m AS HUGEINT) * vm
                        * (2 * CAST(cumv AS HUGEINT) + vm + 1))
                    AS HUGEINT) AS rf2
        FROM lorenz
    )
    SELECT n AS n_tokens, v AS n_vocab,
           ROUND(CAST(rf2 AS DOUBLE)
                 / (CAST(v AS DOUBLE) * n)
                 - (CAST(v AS DOUBLE) + 1) / v, 6) AS gini
    FROM agg
    """,
)
def text_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the token-frequency distribution -- how
    unequally token mass concentrates in the head of the vocabulary
    (natural language sits high, ~0.7-0.9, because of Zipf; a uniform
    synthetic pool sits low). The single-number skew summary that decides
    salting strategy for token-keyed shuffles.

    Determinism: the Gini is computed on the GROUPED frequency spectrum
    via the tied-rank Lorenz identity: the ascending rank-sum over a tie
    group of V(m) tokens at frequency m is m*V(m)*(2*cumV + V(m) + 1)
    when kept doubled -- every term an exact 128-bit integer; two double
    divisions at the end.

    Scale shape: vocabulary groupBy, then the spectrum (distinct
    frequency values -- hundreds, not millions) carries a tiny cumulative
    window; no vocabulary-sized sort or single-partition window."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    freqs = toks.groupBy("tok").agg(F.count("*").cast("long").alias("f"))
    spectrum = freqs.groupBy(F.col("f").alias("m")).agg(
        F.count("*").cast("long").alias("vm")
    )
    lorenz = spectrum.select(
        "m",
        "vm",
        F.coalesce(
            F.sum("vm").over(
                Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cumv"),
    )
    dec = "decimal(38,0)"
    agg = lorenz.agg(
        F.sum(F.col("m") * F.col("vm")).cast("long").alias("n"),
        F.sum("vm").cast("long").alias("v"),
        F.sum(
            F.col("m").cast(dec)
            * F.col("vm")
            * (2 * F.col("cumv").cast(dec) + F.col("vm") + 1)
        ).alias("rf2"),
    )
    return agg.select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_vocab"),
        F.round(
            F.col("rf2").cast("double") / (F.col("v").cast("double") * F.col("n"))
            - (F.col("v").cast("double") + 1) / F.col("v"),
            6,
        ).alias("gini"),
    )
