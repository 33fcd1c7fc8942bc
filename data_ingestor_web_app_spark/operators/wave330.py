"""Wave-330: meta-analysis p-value combination (Stouffer 1949, Fisher
1932) over the per-type one-sample z-tests, the Stuart-Maxwell
marginal-homogeneity test on the per-user transition table, and Kendall's
coefficient of concordance W (Kendall & Babington Smith 1939) across
the three metric rankers. All public methods.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Abramowitz & Stegun 7.1.26 erfc polynomial — the engine's established
# identical-literal-chain normal tail (see wave295 Chauvenet).
_ERFC = (
    "((1.0 / (1.0 + 0.3275911 * ({z}))) * (0.254829592 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (-0.284496736 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (1.421413741 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (-1.453152027 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * 1.061405429)))) "
    "* EXP(-({z}) * ({z})))"
)


def _erfc_col(x):
    t = 1.0 / (1.0 + 0.3275911 * x)
    return (
        t
        * (
            0.254829592
            + t
            * (
                -0.284496736
                + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))
            )
        )
        * F.exp(-x * x)
    )


@query(
    "agg_combine_pvalues",
    oracle=f"""
    WITH u AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS y
        FROM events
    ),
    gmom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               SUM(CAST(y AS HUGEINT) * y) AS s2
        FROM u
    ),
    gstats AS (
        SELECT CAST(s AS DOUBLE) / n AS mu,
               SQRT(CAST(s2 AS DOUBLE) / n
                    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd
        FROM gmom
    ),
    grp AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(y) AS BIGINT) AS sg
        FROM u GROUP BY event_type
    ),
    z AS (
        SELECT event_type,
               (CAST(sg AS DOUBLE) / ng - mu) / (sd / SQRT(CAST(ng AS DOUBLE)))
                   AS zg
        FROM grp CROSS JOIN gstats
    ),
    p AS (
        SELECT event_type, zg, {_ERFC.format(z="ABS(zg) / SQRT(2.0)")} AS pg
        FROM z
    ),
    comb AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(zg) / SQRT(CAST(COUNT(*) AS DOUBLE)) AS z_st,
               -2.0 * SUM(LN(pg)) AS x2
        FROM p
    )
    SELECT k,
           ROUND(z_st, 6) AS stouffer_z,
           ROUND({_ERFC.format(z="ABS(z_st) / SQRT(2.0)")}, 6) AS stouffer_p,
           ROUND(x2, 6) AS fisher_chi2,
           ROUND(EXP(-x2 / 2.0)
                 * (1.0 + (x2 / 2.0) * (1.0 + (x2 / 2.0) / 2.0
                    * (1.0 + (x2 / 2.0) / 3.0 * (1.0 + (x2 / 2.0) / 4.0)))),
                 6) AS fisher_p
    FROM comb
    """,
)
def agg_combine_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-analysis p-value combination: each event type's mean value
    gets a one-sample z against the global distribution, then the k
    two-sided p-values are pooled by Stouffer's signed-Z method
    (Stouffer et al. 1949, Z = Σz/√k) and Fisher's method (1932,
    X² = -2Σln p ~ χ²(2k)). The χ² survival uses the EXACT closed form
    for even dof, e^{{-x/2}}·Σ_{{j<k}}(x/2)^j/j!, written as the same
    Horner chain in both engines; the normal tail is the established
    A&S 7.1.26 erfc polynomial.

    Determinism: group moments are exact integer sums; z/p/combination
    are fixed literal chains (LN/EXP parity established by the keyness
    and entropy rows); rounded 6dp.

    Scale shape: one global + one per-type aggregate over the scan;
    the combination runs on the k=5 frame."""
    u = table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("y")
    )
    glob = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("s2"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    gstats = glob.select(
        mu.alias("mu"),
        F.sqrt(F.col("s2").cast("double") / F.col("n") - mu * mu).alias("sd"),
    )
    grp = u.groupBy("event_type").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("y").cast("long").alias("sg"),
    )
    z = grp.crossJoin(F.broadcast(gstats)).select(
        "event_type",
        (
            (F.col("sg").cast("double") / F.col("ng") - F.col("mu"))
            / (F.col("sd") / F.sqrt(F.col("ng").cast("double")))
        ).alias("zg"),
    )
    p = z.select(
        "zg", _erfc_col(F.abs(F.col("zg")) / F.sqrt(F.lit(2.0))).alias("pg")
    )
    comb = p.agg(
        F.count("*").cast("long").alias("k"),
        (F.sum("zg") / F.sqrt(F.count("*").cast("double"))).alias("z_st"),
        (-2.0 * F.sum(F.log("pg"))).alias("x2"),
    )
    h = F.col("x2") / 2.0
    fisher_p = F.exp(-h) * (
        1.0 + h * (1.0 + h / 2.0 * (1.0 + h / 3.0 * (1.0 + h / 4.0)))
    )
    return comb.select(
        "k",
        F.round(F.col("z_st"), 6).alias("stouffer_z"),
        F.round(
            _erfc_col(F.abs(F.col("z_st")) / F.sqrt(F.lit(2.0))), 6
        ).alias("stouffer_p"),
        F.round(F.col("x2"), 6).alias("fisher_chi2"),
        F.round(fisher_p, 6).alias("fisher_p"),
    )


@query(
    "agg_stuart_maxwell",
    oracle="""
    WITH keyed AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 'buy'
                    WHEN event_type = 'error' THEN 'err'
                    ELSE 'oth' END AS b,
               CAST(epoch_us(ts) AS HUGEINT) * 100000000 + event_id AS k
        FROM events
    ),
    fl AS (
        SELECT user_id, ARG_MIN(b, k) AS f, ARG_MAX(b, k) AS l
        FROM keyed GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN f='buy' AND l='buy' THEN 1 ELSE 0 END) AS BIGINT) AS n11,
               CAST(SUM(CASE WHEN f='buy' AND l='err' THEN 1 ELSE 0 END) AS BIGINT) AS n12,
               CAST(SUM(CASE WHEN f='buy' AND l='oth' THEN 1 ELSE 0 END) AS BIGINT) AS n13,
               CAST(SUM(CASE WHEN f='err' AND l='buy' THEN 1 ELSE 0 END) AS BIGINT) AS n21,
               CAST(SUM(CASE WHEN f='err' AND l='err' THEN 1 ELSE 0 END) AS BIGINT) AS n22,
               CAST(SUM(CASE WHEN f='err' AND l='oth' THEN 1 ELSE 0 END) AS BIGINT) AS n23,
               CAST(SUM(CASE WHEN f='oth' AND l='buy' THEN 1 ELSE 0 END) AS BIGINT) AS n31,
               CAST(SUM(CASE WHEN f='oth' AND l='err' THEN 1 ELSE 0 END) AS BIGINT) AS n32
        FROM fl
    ),
    stat AS (
        SELECT n,
               CAST((n11 + n12 + n13) - (n11 + n21 + n31) AS BIGINT) AS d1,
               CAST((n21 + n22 + n23) - (n12 + n22 + n32) AS BIGINT) AS d2,
               CAST((n11 + n12 + n13) + (n11 + n21 + n31) - 2 * n11
                    AS DOUBLE) AS s11,
               CAST((n21 + n22 + n23) + (n12 + n22 + n32) - 2 * n22
                    AS DOUBLE) AS s22,
               CAST(-(n12 + n21) AS DOUBLE) AS s12
        FROM cells
    )
    SELECT n AS n_pairs, d1, d2,
           ROUND((d1 * d1 * s22 - 2.0 * d1 * d2 * s12 + d2 * d2 * s11)
                 / (s11 * s22 - s12 * s12), 6) AS sm_chi2,
           (d1 * d1 * s22 - 2.0 * d1 * d2 * s12 + d2 * d2 * s11)
               / (s11 * s22 - s12 * s12) > 5.991465 AS marginals_shifted
    FROM stat
    """,
)
def agg_stuart_maxwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuart-Maxwell test of marginal homogeneity (Stuart, Biometrika
    1955; Maxwell 1970): on the per-user first->last transition table
    collapsed to three behavioral buckets (buy / err / oth), test
    whether the FIRST-event distribution equals the LAST-event
    distribution. d = first-marginals minus last-marginals on the
    first k-1 categories, chi2 = d' S^-1 d with the Stuart covariance
    S_ii = r_i + c_i - 2 n_ii, S_ij = -(n_ij + n_ji), df = 2 — the
    marginal-shift companion to the registry's Bowker symmetry row
    (Bowker asks 'is flow u->v as common as v->u'; Stuart-Maxwell asks
    'did the mix change at all'). The 2x2 inverse is closed-form, so
    the statistic is one exact-integer chain.

    Determinism: first/last use the same packed epoch+id total order
    as agg_bowker_symmetry; the 8 cells are exact integers; one fixed
    ratio chain rounded 6dp; the flag compares against the literal
    chi2(2) 95% quantile 5.991465 in both engines.

    Scale shape: per-user min_by/max_by partial aggs (one shuffle on
    user_id), then 1-row closed-form math."""
    keyed = table(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("event_type") == "purchase", "buy")
        .when(F.col("event_type") == "error", "err")
        .otherwise("oth")
        .alias("b"),
        (
            F.expr("unix_micros(ts)").cast("decimal(38,0)") * 100000000
            + F.col("event_id")
        ).alias("k"),
    )
    fl = keyed.groupBy("user_id").agg(
        F.expr("min_by(b, k)").alias("f"),
        F.expr("max_by(b, k)").alias("l"),
    )

    def cell(fv, lv):
        return (
            F.sum(
                F.when((F.col("f") == fv) & (F.col("l") == lv), 1).otherwise(0)
            )
            .cast("long")
        )

    cells = fl.agg(
        F.count("*").cast("long").alias("n"),
        cell("buy", "buy").alias("n11"),
        cell("buy", "err").alias("n12"),
        cell("buy", "oth").alias("n13"),
        cell("err", "buy").alias("n21"),
        cell("err", "err").alias("n22"),
        cell("err", "oth").alias("n23"),
        cell("oth", "buy").alias("n31"),
        cell("oth", "err").alias("n32"),
    )
    r1 = F.col("n11") + F.col("n12") + F.col("n13")
    c1 = F.col("n11") + F.col("n21") + F.col("n31")
    r2 = F.col("n21") + F.col("n22") + F.col("n23")
    c2 = F.col("n12") + F.col("n22") + F.col("n32")
    d1 = (r1 - c1).cast("long")
    d2 = (r2 - c2).cast("long")
    s11 = (r1 + c1 - 2 * F.col("n11")).cast("double")
    s22 = (r2 + c2 - 2 * F.col("n22")).cast("double")
    s12 = (-(F.col("n12") + F.col("n21"))).cast("double")
    chi2 = (d1 * d1 * s22 - 2.0 * d1 * d2 * s12 + d2 * d2 * s11) / (
        s11 * s22 - s12 * s12
    )
    return cells.select(
        F.col("n").alias("n_pairs"),
        d1.alias("d1"),
        d2.alias("d2"),
        F.round(chi2, 6).alias("sm_chi2"),
        (chi2 > 5.991465).alias("marginals_shifted"),
    )


@query(
    "agg_kendall_w",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT)
                   AS v_milli,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS reach
        FROM events GROUP BY event_type
    ),
    r AS (
        SELECT event_type,
               ROW_NUMBER() OVER (ORDER BY n_events DESC, event_type) AS r1,
               ROW_NUMBER() OVER (ORDER BY v_milli DESC, event_type) AS r2,
               ROW_NUMBER() OVER (ORDER BY reach DESC, event_type) AS r3,
               COUNT(*) OVER () AS k
        FROM m
    ),
    s AS (
        SELECT CAST(MAX(k) AS BIGINT) AS k,
               CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS ssq,
               CAST(SUM(r1 + r2 + r3) AS BIGINT) AS st
        FROM r
    )
    SELECT k, CAST(3 AS BIGINT) AS m_raters,
           ROUND((12.0 * (ssq - CAST(st AS DOUBLE) * st / k))
                 / (9.0 * (CAST(k AS DOUBLE) * k * k - k)), 6) AS kendall_w,
           ROUND(3.0 * (k - 1)
                 * ((12.0 * (ssq - CAST(st AS DOUBLE) * st / k))
                    / (9.0 * (CAST(k AS DOUBLE) * k * k - k))), 6)
               AS chi2_stat
    FROM s
    """,
)
def agg_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith, Annals of Math. Stat. 1939): agreement of the m=3 metric
    rankers (volume, value, user reach) over the k event types,
    W = 12·S / (m²(k³-k)) with S the sum of squared deviations of rank
    sums from their mean, plus the χ² = m(k-1)W approximation — the
    standard inter-ranker agreement statistic (ties absent by the
    row_number total order).

    Determinism: rank sums and S are exact integers; two fixed ratio
    chains rounded 6dp.

    Scale shape: one groupBy collapses the stream; W runs on the k=5
    frame."""
    m = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("v_milli"),
            F.count_distinct("user_id").cast("long").alias("reach"),
        )
    )
    r = m.select(
        F.row_number()
        .over(Window.orderBy(F.col("n_events").desc(), "event_type"))
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy(F.col("v_milli").desc(), "event_type"))
        .alias("r2"),
        F.row_number()
        .over(Window.orderBy(F.col("reach").desc(), "event_type"))
        .alias("r3"),
        F.count("*").over(Window.partitionBy()).alias("k"),
    )
    tot = F.col("r1") + F.col("r2") + F.col("r3")
    s = r.agg(
        F.max("k").cast("long").alias("k"),
        F.sum(tot * tot).cast("long").alias("ssq"),
        F.sum(tot).cast("long").alias("st"),
    )
    kd = F.col("k").cast("double")
    w = (
        12.0 * (F.col("ssq") - F.col("st").cast("double") * F.col("st") / F.col("k"))
    ) / (9.0 * (kd * kd * kd - kd))
    return s.select(
        "k",
        F.lit(3).cast("long").alias("m_raters"),
        F.round(w, 6).alias("kendall_w"),
        F.round(3.0 * (F.col("k") - 1) * w, 6).alias("chi2_stat"),
    )
