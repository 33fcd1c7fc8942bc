"""Wave-340: Breslow-Day homogeneity of odds ratios with Tarone's
correction (Breslow & Day 1980; Tarone, Biometrika 1985), weighted
Cohen's kappa (Cohen, Psychological Bulletin 1968), and the
Baumgartner-Weiß-Schindler rank test (Baumgartner, Weiß & Schindler,
Biometrics 1998).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_breslow_day",
    oracle="""
    WITH base AS (
        -- DuckDB DAYOFWEEK is 0-6 (Sun=0); +1 aligns with Spark's
        -- dayofweek() 1-7 (Sun=1) so s means the same weekday in both
        -- engines even if it is ever projected (ADVICE r8 #3)
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS s,
               CASE WHEN HOUR(ts) >= 12 THEN 1 ELSE 0 END AS expo,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outc
        FROM events
    ),
    strata AS (
        SELECT s,
               CAST(SUM(expo * outc) AS BIGINT) AS a,
               CAST(SUM(expo * (1 - outc)) AS BIGINT) AS b,
               CAST(SUM((1 - expo) * outc) AS BIGINT) AS c,
               CAST(SUM((1 - expo) * (1 - outc)) AS BIGINT) AS d
        FROM base GROUP BY s
    ),
    ormh AS (
        SELECT SUM(CAST(a AS DOUBLE) * d / (a + b + c + d))
               / SUM(CAST(b AS DOUBLE) * c / (a + b + c + d)) AS r
        FROM strata
    ),
    fitted AS (
        SELECT s, a,
               CAST(a + b AS DOUBLE) AS n1, CAST(c + d AS DOUBLE) AS n0,
               CAST(a + c AS DOUBLE) AS m1, r,
               1.0 - r AS qa,
               (CAST(c + d AS DOUBLE) - (a + c))
                 + r * (CAST(a + b AS DOUBLE) + (a + c)) AS qb,
               -r * CAST(a + b AS DOUBLE) * (a + c) AS qc
        FROM strata CROSS JOIN ormh
    ),
    roots AS (
        SELECT s, a, n1, n0, m1, r,
               (-qb + SQRT(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS r1,
               (-qb - SQRT(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS r2,
               GREATEST(0.0, m1 - n0) AS lo, LEAST(n1, m1) AS hi
        FROM fitted
    ),
    pick AS (
        SELECT s, a,
               CASE WHEN r1 >= lo - 1e-9 AND r1 <= hi + 1e-9
                    THEN r1 ELSE r2 END AS ahat,
               n1, n0, m1
        FROM roots
    ),
    terms AS (
        SELECT s, a, ahat,
               1.0 / (1.0 / ahat + 1.0 / (n1 - ahat) + 1.0 / (m1 - ahat)
                      + 1.0 / (n0 - m1 + ahat)) AS v
        FROM pick
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           ROUND((SELECT r FROM ormh), 6) AS or_mh,
           ROUND(SUM((a - ahat) * (a - ahat) / v), 6) AS bd_chi2,
           ROUND(SUM((a - ahat) * (a - ahat) / v)
                 - SUM(a - ahat) * SUM(a - ahat) / SUM(v), 6)
               AS tarone_chi2
    FROM terms
    """,
)
def agg_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day test of odds-ratio homogeneity across strata
    (Breslow & Day, IARC 1980) with Tarone's bias correction
    (Biometrika 1985) — the diagnostic that decides whether the pooled
    Mantel-Haenszel OR (the registry's agg_mantel_haenszel row, same
    day-of-week strata) is even meaningful. Each stratum's expected
    exposed-case count under the common OR solves the BD quadratic
    (1−R)ã² + [(n0−m1) + R(n1+m1)]ã − R·n1·m1 = 0, taking the root in
    the admissible margin box; X² = Σ(a−ã)²/V with the harmonic-cell
    variance, and Tarone subtracts (Σ(a−ã))²/ΣV.

    Determinism: all cells are exact integers; the quadratic, root
    pick (identical guarded CASE both engines), and chi² are fixed
    chains over the 7-stratum frame, rounded 6dp.

    Scale shape: one conditional aggregate collapses the corpus to 7
    strata; everything after is dimension-sized."""
    base = table(spark, sf_dir, "events").select(
        # Spark dayofweek is already 1-7 (Sun=1); the oracle's 0-6
        # DAYOFWEEK carries the +1 so the stratum labels agree exactly
        F.dayofweek(F.to_date("ts")).cast("long").alias("s"),
        F.when(F.hour("ts") >= 12, 1).otherwise(0).alias("expo"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "outc"
        ),
    )
    strata = base.groupBy("s").agg(
        F.sum(F.col("expo") * F.col("outc")).cast("long").alias("a"),
        F.sum(F.col("expo") * (1 - F.col("outc"))).cast("long").alias("b"),
        F.sum((1 - F.col("expo")) * F.col("outc")).cast("long").alias("c"),
        F.sum((1 - F.col("expo")) * (1 - F.col("outc")))
        .cast("long")
        .alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ormh = strata.agg(
        (
            F.sum(F.col("a").cast("double") * F.col("d") / n)
            / F.sum(F.col("b").cast("double") * F.col("c") / n)
        ).alias("r")
    )
    fitted = strata.crossJoin(F.broadcast(ormh)).select(
        "s",
        "a",
        (F.col("a") + F.col("b")).cast("double").alias("n1"),
        (F.col("c") + F.col("d")).cast("double").alias("n0"),
        (F.col("a") + F.col("c")).cast("double").alias("m1"),
        "r",
    )
    qa = 1.0 - F.col("r")
    qb = (F.col("n0") - F.col("m1")) + F.col("r") * (
        F.col("n1") + F.col("m1")
    )
    qc = -F.col("r") * F.col("n1") * F.col("m1")
    disc = F.sqrt(qb * qb - 4.0 * qa * qc)
    r1 = (-qb + disc) / (2.0 * qa)
    r2 = (-qb - disc) / (2.0 * qa)
    lo = F.greatest(F.lit(0.0), F.col("m1") - F.col("n0"))
    hi = F.least(F.col("n1"), F.col("m1"))
    ahat = F.when((r1 >= lo - 1e-9) & (r1 <= hi + 1e-9), r1).otherwise(r2)
    pick = fitted.select("s", "a", ahat.alias("ahat"), "n1", "n0", "m1")
    v = 1.0 / (
        1.0 / F.col("ahat")
        + 1.0 / (F.col("n1") - F.col("ahat"))
        + 1.0 / (F.col("m1") - F.col("ahat"))
        + 1.0 / (F.col("n0") - F.col("m1") + F.col("ahat"))
    )
    terms = pick.select("s", "a", "ahat", v.alias("v"))
    dev = F.col("a") - F.col("ahat")
    agg = terms.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum(dev * dev / F.col("v")).alias("bd"),
        F.sum(dev).alias("sd"),
        F.sum("v").alias("sv"),
    )
    return agg.crossJoin(F.broadcast(ormh)).select(
        "n_strata",
        F.round(F.col("r"), 6).alias("or_mh"),
        F.round(F.col("bd"), 6).alias("bd_chi2"),
        F.round(
            F.col("bd") - F.col("sd") * F.col("sd") / F.col("sv"), 6
        ).alias("tarone_chi2"),
    )


@query(
    "agg_weighted_kappa",
    oracle="""
    WITH keyed AS (
        SELECT user_id,
               LEAST(4, CAST(FLOOR(value / 40) AS BIGINT)) AS b,
               CAST(epoch_us(ts) AS HUGEINT) * 100000000 + event_id AS k
        FROM events
    ),
    fl AS (
        SELECT user_id, ARG_MIN(b, k) AS r1, ARG_MAX(b, k) AS r2
        FROM keyed GROUP BY user_id
    ),
    cells AS (
        SELECT r1, r2, CAST(COUNT(*) AS BIGINT) AS c FROM fl GROUP BY r1, r2
    ),
    margins AS (
        SELECT a.r1, b.r2, a.rm, b.cm, COALESCE(c.c, 0) AS c
        FROM (SELECT r1, CAST(SUM(c) AS BIGINT) AS rm FROM cells GROUP BY r1) a
        CROSS JOIN (SELECT r2, CAST(SUM(c) AS BIGINT) AS cm
                    FROM cells GROUP BY r2) b
        LEFT JOIN cells c ON c.r1 = a.r1 AND c.r2 = b.r2
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    sums AS (
        SELECT CAST(SUM(ABS(r1 - r2) * c) AS BIGINT) AS dl_obs,
               CAST(SUM((r1 - r2) * (r1 - r2) * c) AS BIGINT) AS dq_obs,
               CAST(SUM(ABS(r1 - r2) * rm * cm) AS BIGINT) AS dl_exp,
               CAST(SUM((r1 - r2) * (r1 - r2) * rm * cm) AS BIGINT) AS dq_exp
        FROM margins
    )
    SELECT tot.n AS n_pairs,
           ROUND(1.0 - CAST(dl_obs AS DOUBLE) * tot.n / dl_exp, 6)
               AS kappa_linear,
           ROUND(1.0 - CAST(dq_obs AS DOUBLE) * tot.n / dq_exp, 6)
               AS kappa_quadratic
    FROM sums, tot
    """,
)
def agg_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Cohen's kappa (Cohen, Psych. Bulletin 1968) on ordinal
    value bands (0-4, 40-unit cuts) of each user's FIRST vs LAST event
    — linear weights penalize disagreement by |i−j|, quadratic by
    (i−j)² (the ICC-equivalent form). κ_w = 1 − N·Σd_ij n_ij /
    Σd_ij r_i c_j, computed entirely from the k×k contingency and its
    margins. The ordinal-agreement companion to the registry's
    Cohen/Fleiss/Krippendorff/Gwet shelf.

    Determinism: the packed epoch+id total order fixes first/last;
    all disagreement sums are exact integers; two closing ratios 6dp.

    Scale shape: per-user min_by/max_by partial aggs, then a ≤25-cell
    margin product frame."""
    keyed = table(spark, sf_dir, "events").select(
        "user_id",
        F.least(F.lit(4), F.floor(F.col("value") / 40)).cast("long").alias(
            "b"
        ),
        (
            F.expr("unix_micros(ts)").cast("decimal(38,0)") * 100000000
            + F.col("event_id")
        ).alias("k"),
    )
    fl = keyed.groupBy("user_id").agg(
        F.expr("min_by(b, k)").alias("r1"),
        F.expr("max_by(b, k)").alias("r2"),
    )
    cells = fl.groupBy("r1", "r2").agg(F.count("*").cast("long").alias("c"))
    rmarg = cells.groupBy("r1").agg(F.sum("c").cast("long").alias("rm"))
    cmarg = cells.groupBy("r2").agg(F.sum("c").cast("long").alias("cm"))
    margins = (
        rmarg.crossJoin(cmarg)
        .join(cells, ["r1", "r2"], "left")
        .select(
            "r1",
            "r2",
            "rm",
            "cm",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    dl = F.abs(F.col("r1") - F.col("r2"))
    dq = (F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2"))
    sums = margins.agg(
        F.sum(dl * F.col("c")).cast("long").alias("dl_obs"),
        F.sum(dq * F.col("c")).cast("long").alias("dq_obs"),
        F.sum(dl * F.col("rm") * F.col("cm")).cast("long").alias("dl_exp"),
        F.sum(dq * F.col("rm") * F.col("cm")).cast("long").alias("dq_exp"),
    )
    return sums.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_pairs"),
        F.round(
            1.0 - F.col("dl_obs").cast("double") * F.col("n") / F.col("dl_exp"),
            6,
        ).alias("kappa_linear"),
        F.round(
            1.0 - F.col("dq_obs").cast("double") * F.col("n") / F.col("dq_exp"),
            6,
        ).alias("kappa_quadratic"),
    )


@query(
    "agg_bws_test",
    oracle="""
    WITH u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CAST(ROUND(value * 100) AS BIGINT) AS v,
               CAST(epoch_us(ts) AS HUGEINT) * 100000000 + event_id AS k
        FROM events
    ),
    marg AS (
        SELECT CAST(SUM(g) AS BIGINT) AS nx,
               CAST(SUM(1 - g) AS BIGINT) AS ny,
               CAST(COUNT(*) AS BIGINT) AS nn
        FROM u
    ),
    ranked AS (
        SELECT g,
               ROW_NUMBER() OVER (ORDER BY v, k) AS r,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, k) AS i
        FROM u
    ),
    terms AS (
        SELECT g,
               CAST(FLOOR(1e9 *
                   CASE WHEN g = 1 THEN
                       (r - CAST(nn + 1 AS DOUBLE) / (nx + 1) * i)
                     * (r - CAST(nn + 1 AS DOUBLE) / (nx + 1) * i)
                     / ((CAST(i AS DOUBLE) / (nx + 1))
                        * (1.0 - CAST(i AS DOUBLE) / (nx + 1))
                        * (CAST(ny AS DOUBLE) * (nn + 1) / (nx + 1)))
                   ELSE
                       (r - CAST(nn + 1 AS DOUBLE) / (ny + 1) * i)
                     * (r - CAST(nn + 1 AS DOUBLE) / (ny + 1) * i)
                     / ((CAST(i AS DOUBLE) / (ny + 1))
                        * (1.0 - CAST(i AS DOUBLE) / (ny + 1))
                        * (CAST(nx AS DOUBLE) * (nn + 1) / (ny + 1)))
                   END) AS BIGINT) AS t_nano
        FROM ranked CROSS JOIN marg
    ),
    b AS (
        SELECT
            SUM(CASE WHEN g = 1 THEN t_nano ELSE 0 END) AS sx,
            SUM(CASE WHEN g = 0 THEN t_nano ELSE 0 END) AS sy
        FROM terms
    )
    SELECT marg.nx AS n_weekend, marg.ny AS n_weekday,
           ROUND(CAST(b.sx AS DOUBLE) / 1e9 / marg.nx, 6) AS b_x,
           ROUND(CAST(b.sy AS DOUBLE) / 1e9 / marg.ny, 6) AS b_y,
           ROUND((CAST(b.sx AS DOUBLE) / 1e9 / marg.nx
                  + CAST(b.sy AS DOUBLE) / 1e9 / marg.ny) / 2.0, 6)
               AS bws_b
    FROM b, marg
    """,
)
def agg_bws_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Baumgartner-Weiß-Schindler two-sample test (Biometrics
    1998): B = (B_X + B_Y)/2 where each B weights the squared
    rank-EDF deviations by their binomial variance, making the test
    sensitive in the tails where Wilcoxon is blind — the modern
    omnibus companion to the registry's KS/Kuiper/Cucconi/Lepage rows.
    Ties break by the packed epoch+id total order (documented
    convention, identical both engines).

    VARIANT NOTE (ADVICE r8 #2): this is the exact-rank-expectation
    variant — moments E[R_i] = (N+1)/(n+1)·i with scale m(N+1)/(n+1)
    — not the 1998 paper's (m+n)/n·i with scale m(m+n)/n. Both engines
    and the pytest replay the same variant so the statistic is fully
    self-consistent, but the reported bws_b is NOT comparable to
    published BWS critical values (e.g. 2.493 at the 5% level); use it
    as a relative two-sample divergence score, not a tabulated test.

    Determinism: ranks are exact integers off one total order; each
    per-row term quantizes to nano-ints BEFORE summation, so the
    corpus-sized sums are order-independent exact integers (the
    silhouette idiom); two closing divisions rounded 6dp.

    Scale shape (Spark): pooled and within-group ranks come from the
    bounded centi-value grid's prefix offsets + per-value tie windows
    (no corpus-wide single partition); term math is per-row; the
    final fold is an exact integer aggregate."""
    u = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
        (
            F.expr("unix_micros(ts)").cast("decimal(38,0)") * 100000000
            + F.col("event_id")
        ).alias("k"),
    )
    marg = u.agg(
        F.sum("g").cast("long").alias("nx"),
        F.sum(1 - F.col("g")).cast("long").alias("ny"),
        F.count("*").cast("long").alias("nn"),
    )
    # pooled rank r = (# rows with smaller v) + tie position by k;
    # group index i = (# same-group rows with smaller v) + group tie
    # position — all from the bounded value grid + per-value windows.
    grid = u.groupBy("v").agg(
        F.count("*").cast("long").alias("ct"),
        F.sum("g").cast("long").alias("cg"),
    )
    wg = Window.orderBy("v")
    cum = grid.select(
        "v",
        (F.sum("ct").over(wg) - F.col("ct")).alias("lt_all"),
        (F.sum("cg").over(wg) - F.col("cg")).alias("lt_x"),
        (
            (F.sum("ct").over(wg) - F.col("ct"))
            - (F.sum("cg").over(wg) - F.col("cg"))
        ).alias("lt_y"),
    )
    wv = Window.partitionBy("v").orderBy("k")
    wvg = Window.partitionBy("v", "g").orderBy("k")
    ranked = (
        u.join(cum, "v")
        .select(
            "g",
            (F.col("lt_all") + F.row_number().over(wv)).alias("r"),
            (
                F.when(F.col("g") == 1, F.col("lt_x")).otherwise(
                    F.col("lt_y")
                )
                + F.row_number().over(wvg)
            ).alias("i"),
        )
        .crossJoin(F.broadcast(marg))
    )
    nn1 = (F.col("nn") + 1).cast("double")

    def term(nself, nother):
        e = nn1 / (nself + 1) * F.col("i")
        frac = F.col("i").cast("double") / (nself + 1)
        den = frac * (1.0 - frac) * (nother.cast("double") * nn1 / (nself + 1))
        return (F.col("r") - e) * (F.col("r") - e) / den

    t_nano = F.floor(
        1e9
        * F.when(F.col("g") == 1, term(F.col("nx"), F.col("ny"))).otherwise(
            term(F.col("ny"), F.col("nx"))
        )
    ).cast("long")
    b = ranked.select("g", t_nano.alias("t_nano")).agg(
        F.sum(F.when(F.col("g") == 1, F.col("t_nano")).otherwise(0)).alias(
            "sx"
        ),
        F.sum(F.when(F.col("g") == 0, F.col("t_nano")).otherwise(0)).alias(
            "sy"
        ),
    )
    bx = F.col("sx").cast("double") / 1e9 / F.col("nx")
    by = F.col("sy").cast("double") / 1e9 / F.col("ny")
    return b.crossJoin(F.broadcast(marg)).select(
        F.col("nx").alias("n_weekend"),
        F.col("ny").alias("n_weekday"),
        F.round(bx, 6).alias("b_x"),
        F.round(by, 6).alias("b_y"),
        F.round((bx + by) / 2.0, 6).alias("bws_b"),
    )
