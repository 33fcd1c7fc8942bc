"""Wave-310: two-way ANOVA by Yates' unweighted means (event type ×
weekend) and the ANOVA effect-size ladder (eta², omega², epsilon²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_CELL_SQL = """
    cells AS (
        SELECT event_type AS a,
               CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS b,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS s1,
               SUM(CAST(CAST(ROUND(value * 1000) AS BIGINT) AS HUGEINT)
                   * CAST(ROUND(value * 1000) AS BIGINT)) AS s2
        FROM events GROUP BY 1, 2
    )
"""


@query(
    "agg_anova_twoway_unweighted",
    oracle=f"""
    WITH {_CELL_SQL},
    cm AS (
        SELECT a, b, n,
               CAST(s1 AS DOUBLE) / n / 1000.0 AS m,
               (CAST(s2 AS DOUBLE) / 1e6
                - (CAST(s1 AS DOUBLE) / 1000.0)
                  * (CAST(s1 AS DOUBLE) / 1000.0) / n) AS ss_within
        FROM cells
    ),
    dims AS (
        SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
               CAST(COUNT(DISTINCT b) AS BIGINT) AS kb,
               CAST(SUM(n) AS BIGINT) AS ntot,
               COUNT(*) / SUM(1.0 / n) AS nh,
               AVG(m) AS grand
        FROM cm
    ),
    amean AS (SELECT a, AVG(m) AS am FROM cm GROUP BY a),
    bmean AS (SELECT b, AVG(m) AS bm FROM cm GROUP BY b),
    ss AS (
        SELECT d.ka, d.kb, d.ntot, d.nh,
               d.nh * d.kb * (SELECT SUM((am - d.grand) * (am - d.grand))
                              FROM amean) AS ssa,
               d.nh * d.ka * (SELECT SUM((bm - d.grand) * (bm - d.grand))
                              FROM bmean) AS ssb,
               d.nh * (SELECT SUM((c.m - a2.am - b2.bm + d.grand)
                                  * (c.m - a2.am - b2.bm + d.grand))
                       FROM cm c JOIN amean a2 ON c.a = a2.a
                                 JOIN bmean b2 ON c.b = b2.b) AS ssab,
               (SELECT SUM(ss_within) FROM cm) AS sse
        FROM dims d
    )
    SELECT ka AS levels_a, kb AS levels_b, ntot AS n_obs,
           ROUND(nh, 6) AS harmonic_cell_n,
           ROUND(ssa / (ka - 1) / (sse / (ntot - ka * kb)), 6) AS f_a,
           ROUND(ssb / (kb - 1) / (sse / (ntot - ka * kb)), 6) AS f_b,
           ROUND(ssab / ((ka - 1) * (kb - 1))
                 / (sse / (ntot - ka * kb)), 6) AS f_interaction,
           ssa / (ka - 1) / (sse / (ntot - ka * kb)) > 2.371936 AS sig_a,
           ssb / (kb - 1) / (sse / (ntot - ka * kb)) > 3.841459 AS sig_b,
           ssab / ((ka - 1) * (kb - 1))
             / (sse / (ntot - ka * kb)) > 2.371936 AS sig_interaction
    FROM ss
    """,
)
def agg_anova_twoway_unweighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA by Yates' method of unweighted means (Yates, JASA
    1934, public — the classical treatment of UNBALANCED factorial
    data): factors event type (5 levels) × weekend (2), effects
    computed from UNWEIGHTED cell means scaled by the harmonic mean
    cell size, error from within-cell sums of squares. Emits the three
    F statistics (A, B, interaction) against the literal F(df, inf) 5%
    points — the missing two-way row next to the registry's one-way
    ANOVA/Welch/Kruskal-Wallis: "does the weekday value shift differ BY
    event type" is an interaction question nothing else here answers.

    Determinism: cell moments are exact integer milli-sums; cell means
    and the Yates scaling are fixed chains over a 10-cell frame; flags
    compare unrounded F's.

    Scale shape: one (type, weekend) partial-agg groupBy over the scan;
    everything after runs on the 10-cell frame."""
    mv = F.round(F.col("value") * 1000).cast("long")
    cells = (
        table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("a"),
            F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("b"),
            mv.alias("m"),
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("m").cast("long").alias("s1"),
            F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("s2"),
        )
    )
    cm = cells.select(
        "a",
        "b",
        "n",
        (F.col("s1").cast("double") / F.col("n") / 1000.0).alias("m"),
        (
            F.col("s2").cast("double") / 1e6
            - (F.col("s1").cast("double") / 1000.0)
            * (F.col("s1").cast("double") / 1000.0)
            / F.col("n")
        ).alias("ss_within"),
    ).cache()  # 10 rows, read by every SS term below
    dims = cm.agg(
        F.countDistinct("a").cast("long").alias("ka"),
        F.countDistinct("b").cast("long").alias("kb"),
        F.sum("n").cast("long").alias("ntot"),
        (F.count("*") / F.sum(1.0 / F.col("n"))).alias("nh"),
        F.avg("m").alias("grand"),
        F.sum("ss_within").alias("sse"),
    )
    amean = cm.groupBy("a").agg(F.avg("m").alias("am"))
    bmean = cm.groupBy("b").agg(F.avg("m").alias("bm"))
    ssa = (
        amean.crossJoin(F.broadcast(dims.select("grand")))
        .agg(F.sum((F.col("am") - F.col("grand")) * (F.col("am") - F.col("grand"))).alias("x"))
    )
    ssb = (
        bmean.crossJoin(F.broadcast(dims.select("grand")))
        .agg(F.sum((F.col("bm") - F.col("grand")) * (F.col("bm") - F.col("grand"))).alias("x"))
    )
    ssab = (
        cm.join(F.broadcast(amean), "a")
        .join(F.broadcast(bmean), "b")
        .crossJoin(F.broadcast(dims.select("grand")))
        .agg(
            F.sum(
                (F.col("m") - F.col("am") - F.col("bm") + F.col("grand"))
                * (F.col("m") - F.col("am") - F.col("bm") + F.col("grand"))
            ).alias("x")
        )
    )
    j = (
        dims.crossJoin(F.broadcast(ssa.select(F.col("x").alias("sa"))))
        .crossJoin(F.broadcast(ssb.select(F.col("x").alias("sb"))))
        .crossJoin(F.broadcast(ssab.select(F.col("x").alias("sab"))))
    )
    mse = F.col("sse") / (F.col("ntot") - F.col("ka") * F.col("kb"))
    fa = F.col("nh") * F.col("kb") * F.col("sa") / (F.col("ka") - 1) / mse
    fb = F.col("nh") * F.col("ka") * F.col("sb") / (F.col("kb") - 1) / mse
    fab = (
        F.col("nh")
        * F.col("sab")
        / ((F.col("ka") - 1) * (F.col("kb") - 1))
        / mse
    )
    return j.select(
        F.col("ka").alias("levels_a"),
        F.col("kb").alias("levels_b"),
        F.col("ntot").alias("n_obs"),
        F.round("nh", 6).alias("harmonic_cell_n"),
        F.round(fa, 6).alias("f_a"),
        F.round(fb, 6).alias("f_b"),
        F.round(fab, 6).alias("f_interaction"),
        (fa > 2.371936).alias("sig_a"),
        (fb > 3.841459).alias("sig_b"),
        (fab > 2.371936).alias("sig_interaction"),
    )


@query(
    "agg_anova_effect_sizes",
    oracle="""
    WITH mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS s1,
               SUM(CAST(CAST(ROUND(value * 1000) AS BIGINT) AS HUGEINT)
                   * CAST(ROUND(value * 1000) AS BIGINT)) AS s2
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(s1) AS BIGINT) AS g1,
               SUM(s2) AS g2
        FROM mom
    ),
    ss AS (
        SELECT t.nt, t.k,
               SUM((CAST(m.s1 AS DOUBLE) / 1000.0)
                   * (CAST(m.s1 AS DOUBLE) / 1000.0) / m.n)
                 - (CAST(t.g1 AS DOUBLE) / 1000.0)
                   * (CAST(t.g1 AS DOUBLE) / 1000.0) / t.nt AS ssb,
               CAST(t.g2 AS DOUBLE) / 1e6
                 - (CAST(t.g1 AS DOUBLE) / 1000.0)
                   * (CAST(t.g1 AS DOUBLE) / 1000.0) / t.nt AS sst
        FROM mom m CROSS JOIN tot t
        GROUP BY t.nt, t.k, t.g1, t.g2
    )
    SELECT nt AS n_obs, k AS k_groups,
           ROUND(ssb / sst, 6) AS eta_squared,
           ROUND((ssb - (k - 1) * (sst - ssb) / (nt - k))
                 / (sst + (sst - ssb) / (nt - k)), 6) AS omega_squared,
           ROUND((ssb - (k - 1) * (sst - ssb) / (nt - k)) / sst, 6)
               AS epsilon_squared,
           ROUND((ssb / (k - 1)) / ((sst - ssb) / (nt - k)), 6) AS f_stat
    FROM ss
    """,
)
def agg_anova_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANOVA effect-size ladder (all public): eta² = SSB/SST
    (Pearson's correlation ratio, biased upward), omega² (Hays 1963 —
    the unbiased population estimate) and epsilon² (Kelley 1935) for
    the one-way event-type design, alongside the F statistic itself.
    The registry's agg_anova_oneway answers "is there any effect";
    these answer "how MUCH of the variance the factor explains" — the
    number meta-analyses actually extract, with the standard ordering
    eta² >= epsilon² >= omega² pinned in pytest.

    Determinism: all sums of squares from exact integer milli-moments
    via the computational identities (no per-row centering); fixed
    chains rounded 6dp.

    Scale shape: one map-side-combinable groupBy; the ladder runs on a
    k-row frame."""
    mv = F.round(F.col("value") * 1000).cast("long")
    mom = (
        table(spark, sf_dir, "events")
        .select("event_type", mv.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("m").cast("long").alias("s1"),
            F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("s2"),
        )
    )
    tot = mom.agg(
        F.sum("n").cast("long").alias("nt"),
        F.count("*").cast("long").alias("k"),
        F.sum("s1").cast("long").alias("g1"),
        F.sum("s2").alias("g2"),
    )
    j = mom.crossJoin(F.broadcast(tot))
    ssb_term = (
        (F.col("s1").cast("double") / 1000.0)
        * (F.col("s1").cast("double") / 1000.0)
        / F.col("n")
    )
    ss = j.groupBy("nt", "k", "g1", "g2").agg(
        (
            F.sum(ssb_term)
            - (F.col("g1").cast("double") / 1000.0)
            * (F.col("g1").cast("double") / 1000.0)
            / F.col("nt")
        ).alias("ssb"),
        (
            F.col("g2").cast("double") / 1e6
            - (F.col("g1").cast("double") / 1000.0)
            * (F.col("g1").cast("double") / 1000.0)
            / F.col("nt")
        ).alias("sst"),
    )
    mse = (F.col("sst") - F.col("ssb")) / (F.col("nt") - F.col("k"))
    return ss.select(
        F.col("nt").alias("n_obs"),
        F.col("k").alias("k_groups"),
        F.round(F.col("ssb") / F.col("sst"), 6).alias("eta_squared"),
        F.round(
            (F.col("ssb") - (F.col("k") - 1) * mse) / (F.col("sst") + mse), 6
        ).alias("omega_squared"),
        F.round(
            (F.col("ssb") - (F.col("k") - 1) * mse) / F.col("sst"), 6
        ).alias("epsilon_squared"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / ((F.col("sst") - F.col("ssb")) / (F.col("nt") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )
