"""Wave-304: Duncan/Massey-Denton segregation indices of languages across
corpus sources and the Palma income-inequality ratio on order values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_segregation_duncan",
    oracle="""
    WITH cell AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang
    ),
    top2 AS (
        SELECT lang, ROW_NUMBER() OVER (ORDER BY SUM(n) DESC, lang) AS rk
        FROM cell GROUP BY lang QUALIFY rk <= 2
    ),
    ab AS (
        SELECT c.source,
               SUM(CASE WHEN t.rk = 1 THEN c.n ELSE 0 END) AS a,
               SUM(CASE WHEN t.rk = 2 THEN c.n ELSE 0 END) AS b
        FROM cell c JOIN top2 t ON c.lang = t.lang
        GROUP BY c.source
    ),
    tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
        FROM ab
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           t.ta AS n_lang_a, t.tb AS n_lang_b,
           ROUND(0.5 * SUM(ABS(CAST(a AS DOUBLE) / t.ta
                               - CAST(b AS DOUBLE) / t.tb)), 6)
               AS duncan_d,
           ROUND(SUM((CAST(a AS DOUBLE) / t.ta)
                     * (CAST(b AS DOUBLE) / (a + b))), 6) AS exposure_ab,
           ROUND(SUM((CAST(a AS DOUBLE) / t.ta)
                     * (CAST(a AS DOUBLE) / (a + b))), 6) AS isolation_a
    FROM ab CROSS JOIN tot t
    GROUP BY t.ta, t.tb
    """,
)
def pipeline_segregation_duncan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residential-segregation indices (Duncan & Duncan, ASR 1955;
    Massey & Denton's P* exposure framework, Social Forces 1988 —
    public) applied to corpus provenance: how segregated are the two
    largest languages across sources? Duncan's dissimilarity
    D = ½Σ|a_i/A - b_i/B| is the share of either group that would have
    to move to equalize every source; xP*y exposure is the average
    B-share the A docs see in their own source; isolation is A's
    exposure to itself. A training corpus where D -> 1 has languages
    living in disjoint sources — shuffling by source then starves
    low-resource languages, exactly the imbalance
    pipeline_temperature_sampling corrects.

    Determinism: cell counts are exact integers; the top-2 languages
    are rank-selected with a name tie-break; three rounded sums over
    the source dimension.

    Scale shape: one (source, lang) partial-agg groupBy over the scan;
    everything after is dimension-sized."""
    cell = (
        table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    top2 = (
        cell.groupBy("lang")
        .agg(F.sum("n").alias("tot"))
        .select(
            "lang",
            F.row_number()
            .over(Window.orderBy(F.col("tot").desc(), "lang"))
            .alias("rk"),
        )
        .where(F.col("rk") <= 2)
    )
    ab = (
        cell.join(F.broadcast(top2), "lang")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("rk") == 1, F.col("n")).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("rk") == 2, F.col("n")).otherwise(0)).alias("b"),
        )
    )
    tot = ab.agg(
        F.sum("a").cast("long").alias("ta"), F.sum("b").cast("long").alias("tb")
    )
    j = ab.crossJoin(F.broadcast(tot))
    return j.groupBy("ta", "tb").agg(
        F.count("*").cast("long").alias("n_sources"),
        F.round(
            0.5
            * F.sum(
                F.abs(
                    F.col("a").cast("double") / F.col("ta")
                    - F.col("b").cast("double") / F.col("tb")
                )
            ),
            6,
        ).alias("duncan_d"),
        F.round(
            F.sum(
                (F.col("a").cast("double") / F.col("ta"))
                * (F.col("b").cast("double") / (F.col("a") + F.col("b")))
            ),
            6,
        ).alias("exposure_ab"),
        F.round(
            F.sum(
                (F.col("a").cast("double") / F.col("ta"))
                * (F.col("a").cast("double") / (F.col("a") + F.col("b")))
            ),
            6,
        ).alias("isolation_a"),
    ).select(
        "n_sources",
        F.col("ta").alias("n_lang_a"),
        F.col("tb").alias("n_lang_b"),
        "duncan_d",
        "exposure_ab",
        "isolation_a",
    )


@query(
    "agg_palma_ratio",
    oracle="""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT v, k,
               SUM(k) OVER (ORDER BY v) - k AS below,
               SUM(k) OVER (ORDER BY v) AS upto,
               SUM(k) OVER () AS n,
               SUM(k * v) OVER () AS total
        FROM vals
    ),
    shares AS (
        SELECT MAX(n) AS n, MAX(total) AS total,
               SUM(GREATEST(LEAST(CAST(FLOOR(0.4 * n) AS BIGINT) - below, k),
                            0) * v) AS bottom40,
               SUM(GREATEST(LEAST(upto - CAST(FLOOR(0.9 * n) AS BIGINT), k),
                            0) * v) AS top10,
               SUM(GREATEST(LEAST(CAST(FLOOR(0.2 * n) AS BIGINT) - below, k),
                            0) * v) AS bottom20,
               SUM(GREATEST(LEAST(upto - CAST(FLOOR(0.8 * n) AS BIGINT), k),
                            0) * v) AS top20
        FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           ROUND(CAST(top10 AS DOUBLE) / total, 6) AS top10_share,
           ROUND(CAST(bottom40 AS DOUBLE) / total, 6) AS bottom40_share,
           ROUND(CAST(top10 AS DOUBLE) / bottom40, 6) AS palma_ratio,
           ROUND(CAST(top20 AS DOUBLE) / bottom20, 6) AS ratio_2020
    FROM shares
    """,
)
def agg_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma inequality ratio (Palma 2011; Cobham & Sumner 2013 —
    public): the top-10% income share divided by the bottom-40% share —
    Palma's observation is that the middle 50% share is stable across
    economies, so ALL the inequality action is in this one ratio; the
    UN's 20:20 ratio rides along. Complements the registry's
    Gini/Lorenz/Atkinson/Hoover rows with the measure that reacts ONLY
    to tail transfers (a Gini move can come from anywhere; a Palma move
    is top-vs-bottom by construction).

    Determinism: group sums are computed EXACTLY over the distinct-value
    cumulative frame — the boundary value contributes precisely the
    rows needed to fill floor(q·n) ranks (GREATEST/LEAST clamps on
    integer counts), so ties at a quantile edge split deterministically
    in both engines; four rounded ratios.

    Scale shape: distinct-cents collapse first; the quantile-range sums
    are clamped weighted sums over the Aggregate frame — no
    single-partition rank over raw rows."""
    vals = (
        table(spark, sf_dir, "orders")
        .groupBy(F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("k"))
    )
    wv = Window.orderBy("v")
    cum = vals.select(
        "v",
        "k",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
        F.sum(F.col("k") * F.col("v")).over(Window.partitionBy()).alias("total"),
    )

    def low_sum(frac):
        r = F.floor(frac * F.col("n")).cast("long")
        return F.sum(
            F.greatest(F.least(r - F.col("below"), F.col("k")), F.lit(0))
            * F.col("v")
        )

    def high_sum(frac):
        r = F.floor(frac * F.col("n")).cast("long")
        return F.sum(
            F.greatest(F.least(F.col("upto") - r, F.col("k")), F.lit(0))
            * F.col("v")
        )

    shares = cum.agg(
        F.max("n").cast("long").alias("n"),
        F.max("total").cast("long").alias("total"),
        low_sum(0.4).alias("bottom40"),
        high_sum(0.9).alias("top10"),
        low_sum(0.2).alias("bottom20"),
        high_sum(0.8).alias("top20"),
    )
    return shares.select(
        F.col("n").alias("n_obs"),
        F.round(F.col("top10").cast("double") / F.col("total"), 6).alias(
            "top10_share"
        ),
        F.round(F.col("bottom40").cast("double") / F.col("total"), 6).alias(
            "bottom40_share"
        ),
        F.round(F.col("top10").cast("double") / F.col("bottom40"), 6).alias(
            "palma_ratio"
        ),
        F.round(F.col("top20").cast("double") / F.col("bottom20"), 6).alias(
            "ratio_2020"
        ),
    )
