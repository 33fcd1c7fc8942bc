"""Wave-331: external cluster-validity pair counting (Rand 1971,
Hubert & Arabie's adjusted Rand 1985, Fowlkes-Mallows 1983), cluster
purity / inverse purity (Zhao & Karypis 2001), and the classical
set-similarity shelf (Sørensen-Dice 1948, Szymkiewicz-Simpson overlap,
Ochiai 1957, Tversky 1977, Bray-Curtis 1957) between two language
token populations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Deterministic 'predicted' clustering for the external-validity rows:
# the sign pattern of embedding dims 0..2 (8 octant clusters) vs the
# ground-truth label — a SimHash-style 3-bit coarse quantizer whose
# assignment is a pure per-row expression (no iteration, no state).
# NOTE duckdb lists are 1-based; Spark arrays are 0-based.
_CONTING_SQL = """
    pts AS (
        SELECT CAST(4 * (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                    + 2 * (CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END)
                    + (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS pred,
               CAST(label AS BIGINT) AS truth
        FROM embeddings
    ),
    conting AS (
        SELECT pred, truth, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY pred, truth
    )
"""


def _conting(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    pts = e.select(
        (
            4 * F.when(F.col("embedding")[0] > 0, 1).otherwise(0)
            + 2 * F.when(F.col("embedding")[1] > 0, 1).otherwise(0)
            + F.when(F.col("embedding")[2] > 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("pred"),
        F.col("label").cast("long").alias("truth"),
    )
    return pts.groupBy("pred", "truth").agg(
        F.count("*").cast("long").alias("c")
    )


@query(
    "sim_rand_ari_fm",
    oracle=f"""
    WITH {_CONTING_SQL},
    s AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS p
        FROM conting
    ),
    pa AS (
        SELECT CAST(SUM(a * (a - 1) / 2) AS BIGINT) AS a
        FROM (SELECT SUM(c) AS a FROM conting GROUP BY pred)
    ),
    pb AS (
        SELECT CAST(SUM(b * (b - 1) / 2) AS BIGINT) AS b
        FROM (SELECT SUM(c) AS b FROM conting GROUP BY truth)
    ),
    w AS (
        SELECT n, p, a, b, CAST(n * (n - 1) / 2 AS BIGINT) AS tot
        FROM s, pa, pb
    )
    SELECT n AS n_points, p AS pairs_both, a AS pairs_pred, b AS pairs_true,
           ROUND((CAST(tot AS DOUBLE) + 2.0 * p - a - b) / tot, 6)
               AS rand_index,
           ROUND((p - CAST(a AS DOUBLE) * b / tot)
                 / ((CAST(a AS DOUBLE) + b) / 2.0
                    - CAST(a AS DOUBLE) * b / tot), 6) AS adjusted_rand,
           ROUND(p / SQRT(CAST(a AS DOUBLE) * b), 6) AS fowlkes_mallows
    FROM w
    """,
)
def sim_rand_ari_fm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External cluster validity by pair counting: the Rand index
    (Rand, JASA 1971), Hubert & Arabie's chance-adjusted Rand (1985),
    and the Fowlkes-Mallows index (JASA 1983) between the 3-bit octant
    quantizer and the ground-truth labels. Everything reduces to three
    pair totals from the contingency table — P = ΣC(n_ij,2),
    A = ΣC(a_i,2), B = ΣC(b_j,2) — so the pair-counting is exact
    integer combinatorics with no point-point join anywhere.

    Determinism: sign tests on raw floats are exact; all pair counts
    are integers; three fixed closing ratios rounded 6dp.

    Scale shape: one groupBy(pred,truth) with map-side partials
    (≤ 8·k cells); the indices are 1-row math. The O(n²) 'all pairs'
    definition is never materialized."""
    conting = _conting(spark, sf_dir)
    s = conting.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("p"),
    )
    pa = (
        conting.groupBy("pred")
        .agg(F.sum("c").alias("a"))
        .agg(F.sum(F.col("a") * (F.col("a") - 1) / 2).cast("long").alias("a"))
    )
    pb = (
        conting.groupBy("truth")
        .agg(F.sum("c").alias("b"))
        .agg(F.sum(F.col("b") * (F.col("b") - 1) / 2).cast("long").alias("b"))
    )
    w = (
        s.crossJoin(F.broadcast(pa))
        .crossJoin(F.broadcast(pb))
        .withColumn(
            "tot", (F.col("n") * (F.col("n") - 1) / 2).cast("long")
        )
    )
    p, a, b, tot = (F.col(x) for x in ("p", "a", "b", "tot"))
    ad, bd, totd = a.cast("double"), b.cast("double"), tot.cast("double")
    return w.select(
        F.col("n").alias("n_points"),
        p.alias("pairs_both"),
        a.alias("pairs_pred"),
        b.alias("pairs_true"),
        F.round((totd + 2.0 * p - a - b) / tot, 6).alias("rand_index"),
        F.round(
            (p - ad * b / tot) / ((ad + b) / 2.0 - ad * b / tot), 6
        ).alias("adjusted_rand"),
        F.round(p / F.sqrt(ad * b), 6).alias("fowlkes_mallows"),
    )


@query(
    "sim_cluster_purity",
    oracle=f"""
    WITH {_CONTING_SQL},
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM conting),
    pur AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS s
        FROM (SELECT MAX(c) AS mx FROM conting GROUP BY pred)
    ),
    inv AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS s
        FROM (SELECT MAX(c) AS mx FROM conting GROUP BY truth)
    )
    SELECT n AS n_points,
           ROUND(CAST(pur.s AS DOUBLE) / n, 6) AS purity,
           ROUND(CAST(inv.s AS DOUBLE) / n, 6) AS inverse_purity,
           ROUND(2.0 * (CAST(pur.s AS DOUBLE) / n)
                     * (CAST(inv.s AS DOUBLE) / n)
                 / (CAST(pur.s AS DOUBLE) / n
                    + CAST(inv.s AS DOUBLE) / n), 6) AS purity_f1
    FROM tot, pur, inv
    """,
)
def sim_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity, inverse purity, and their harmonic mean (Zhao &
    Karypis, ML 2001 / van Rijsbergen's F on best-matching classes):
    purity sums each predicted cluster's majority-class count; inverse
    purity sums each true class's best-cluster count — the simplest
    external validity pair, exact by construction (value-max over
    integer cells needs no argmax tie-break).

    Determinism: all three totals are exact integers; ratios 6dp.

    Scale shape: same ≤8·k contingency as sim_rand_ari_fm; two
    per-side maxes and 1-row math."""
    conting = _conting(spark, sf_dir)
    tot = conting.agg(F.sum("c").cast("long").alias("n"))
    pur = (
        conting.groupBy("pred")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("sp"))
    )
    inv = (
        conting.groupBy("truth")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("si"))
    )
    w = tot.crossJoin(F.broadcast(pur)).crossJoin(F.broadcast(inv))
    pu = F.col("sp").cast("double") / F.col("n")
    ip = F.col("si").cast("double") / F.col("n")
    return w.select(
        F.col("n").alias("n_points"),
        F.round(pu, 6).alias("purity"),
        F.round(ip, 6).alias("inverse_purity"),
        F.round(2.0 * pu * ip / (pu + ip), 6).alias("purity_f1"),
    )


@query(
    "text_set_similarity_shelf",
    oracle="""
    WITH toks AS (
        SELECT lang, LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token
        FROM documents WHERE lang IN ('en', 'fr')
    ),
    cnt AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE token <> '' GROUP BY lang, token
    ),
    wide AS (
        SELECT token,
               CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN c END), 0)
                    AS BIGINT) AS ce,
               CAST(COALESCE(SUM(CASE WHEN lang = 'fr' THEN c END), 0)
                    AS BIGINT) AS cf
        FROM cnt GROUP BY token
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN ce > 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN cf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
               CAST(SUM(CASE WHEN ce > 0 AND cf > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ni,
               CAST(SUM(CASE WHEN ce < cf THEN ce ELSE cf END) AS BIGINT)
                   AS cmin,
               CAST(SUM(ce + cf) AS BIGINT) AS ctot
        FROM wide
    )
    SELECT na AS n_tokens_en, nb AS n_tokens_fr, ni AS n_shared,
           ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard,
           ROUND(2.0 * ni / (na + nb), 6) AS sorensen_dice,
           ROUND(CAST(ni AS DOUBLE)
                 / (CASE WHEN na < nb THEN na ELSE nb END), 6)
               AS overlap_coef,
           ROUND(CAST(ni AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * nb), 6)
               AS ochiai,
           ROUND(CAST(ni AS DOUBLE)
                 / (ni + 0.7 * (na - ni) + 0.3 * (nb - ni)), 6)
               AS tversky_07_03,
           ROUND(1.0 - 2.0 * cmin / ctot, 6) AS bray_curtis
    FROM s
    """,
)
def text_set_similarity_shelf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classical set/multiset similarity shelf between the English
    and French token populations: Jaccard (1901), Sørensen-Dice
    (1948), the Szymkiewicz-Simpson overlap coefficient, Ochiai's
    cosine-on-sets (1957), the asymmetric Tversky index (Psychological
    Review 1977; α=0.7, β=0.3 prototype weighting), and Bray-Curtis
    dissimilarity (1957) on the raw count multisets. One shelf, one
    vocabulary-sized frame — the coefficients only need |A|, |B|,
    |A∩B|, Σmin and Σtotals.

    Determinism: all five set sizes are exact integers; six fixed
    ratio chains rounded 6dp.

    Scale shape: explode → one groupBy(lang,token) with map-side
    partials → one vocab-keyed width-2 pivot; the shelf is 1-row math.
    No token-token pairs, no cross join."""
    toks = (
        table(spark, sf_dir, "documents")
        .where(F.col("lang").isin("en", "fr"))
        .select("lang", F.explode(F.split("text", " ")).alias("raw"))
        .select("lang", F.lower("raw").alias("token"))
        .where(F.col("token") != "")
    )
    cnt = toks.groupBy("lang", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    wide = cnt.groupBy("token").agg(
        F.coalesce(F.sum(F.when(F.col("lang") == "en", F.col("c"))), F.lit(0))
        .cast("long")
        .alias("ce"),
        F.coalesce(F.sum(F.when(F.col("lang") == "fr", F.col("c"))), F.lit(0))
        .cast("long")
        .alias("cf"),
    )
    s = wide.agg(
        F.sum(F.when(F.col("ce") > 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("cf") > 0, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when((F.col("ce") > 0) & (F.col("cf") > 0), 1).otherwise(0))
        .cast("long")
        .alias("ni"),
        F.sum(F.least("ce", "cf")).cast("long").alias("cmin"),
        F.sum(F.col("ce") + F.col("cf")).cast("long").alias("ctot"),
    )
    na, nb, ni = (F.col(x).cast("double") for x in ("na", "nb", "ni"))
    return s.select(
        F.col("na").alias("n_tokens_en"),
        F.col("nb").alias("n_tokens_fr"),
        F.col("ni").alias("n_shared"),
        F.round(ni / (na + nb - ni), 6).alias("jaccard"),
        F.round(2.0 * ni / (na + nb), 6).alias("sorensen_dice"),
        F.round(ni / F.least(na, nb), 6).alias("overlap_coef"),
        F.round(ni / F.sqrt(na * nb), 6).alias("ochiai"),
        F.round(
            ni / (ni + 0.7 * (na - ni) + 0.3 * (nb - ni)), 6
        ).alias("tversky_07_03"),
        F.round(
            1.0 - 2.0 * F.col("cmin") / F.col("ctot"), 6
        ).alias("bray_curtis"),
    )
