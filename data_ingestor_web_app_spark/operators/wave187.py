"""Wave-187: Pettitt changepoint, Bartlett variance homogeneity, and a
tie-corrected Jonckheere-Terpstra ordered-trend test.

All three are rank/moment statistics whose naive forms are pairwise
(Pettitt and JT are U-statistics over O(N^2) pairs); each is re-expressed
here through exact-integer rank identities and per-group cumulative
counts so the heavy work is one groupBy plus tiny-frame windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_pettitt_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT))
                    AS BIGINT) AS tot
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    ranked AS (
        SELECT d, tot,
               CAST(RANK() OVER (ORDER BY tot) AS BIGINT) AS rmin,
               CAST(COUNT(*) OVER (PARTITION BY tot) AS BIGINT) AS teq,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    cum AS (
        SELECT d, n,
               CAST(SUM(2 * rmin + teq - 1)
                    OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS s2t,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
        FROM ranked
    ),
    u AS (
        SELECT d, n, t, s2t - t * (n + 1) AS ut
        FROM cum WHERE t < n
    )
    SELECT n AS n_days,
           CAST(MAX(ABS(ut)) AS BIGINT) AS k_stat,
           CAST(MIN(CASE WHEN ABS(ut) = (SELECT MAX(ABS(ut)) FROM u)
                         THEN d END) AS VARCHAR) AS cp_day,
           ROUND(2 * EXP(-6.0e0 * MAX(ABS(ut)) * MAX(ABS(ut))
                 / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)), 6)
               AS p_approx
    FROM u GROUP BY n
    """,
)
def events_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt single-changepoint test on the daily milli-value series:
    K = max_t |U_t| where U_t counts sign agreements between the prefix
    and the suffix. The naive U_t is O(n^2) pairs; with average ranks r_i
    the exact identity U_t = 2*S_t - t(n+1) (S_t = prefix rank sum) makes
    it one rank pass plus a running sum -- every quantity an exact
    integer, since 2*r_i = 2*rmin + teq - 1 is integral even at ties.

    Determinism: daily totals are quantized milli-integers; ranks, 2r
    sums and U_t are exact BIGINTs; only the approximate p-value
    2*exp(-6K^2/(n^3+n^2)) touches doubles (identical expression shape).
    Changepoint day ties break to the earliest date, emitted as a string.

    Scale shape: the groupBy(day) rollup carries the corpus cost; ranks
    and the running sum run on the ~30-row daily frame (calendar-bounded,
    not corpus-bounded)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("tot")
    )
    ranked = daily.select(
        "d",
        F.rank().over(Window.orderBy("tot")).cast("long").alias("rmin"),
        F.count("*").over(Window.partitionBy("tot")).cast("long").alias("teq"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    cum = ranked.select(
        "d",
        "n",
        F.sum(2 * F.col("rmin") + F.col("teq") - 1)
        .over(Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("s2t"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
    )
    u = cum.where(F.col("t") < F.col("n")).select(
        "d", "n", (F.col("s2t") - F.col("t") * (F.col("n") + 1)).alias("ut")
    )
    kmax = u.groupBy("n").agg(F.max(F.abs("ut")).cast("long").alias("k_stat"))
    j = u.join(F.broadcast(kmax), "n")
    return j.groupBy("n", "k_stat").agg(
        F.min(
            F.when(F.abs("ut") == F.col("k_stat"), F.col("d"))
        ).cast("string").alias("cp_day"),
        F.round(
            2
            * F.exp(
                F.lit(-6.0)
                * F.col("k_stat")
                * F.col("k_stat")
                / (
                    F.col("n").cast("double") * F.col("n") * F.col("n")
                    + F.col("n").cast("double") * F.col("n")
                )
            ),
            6,
        ).alias("p_approx"),
    ).select(
        F.col("n").alias("n_days"), "k_stat", "cp_day", "p_approx"
    )


@query(
    "agg_bartlett_test",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS qv
        FROM events
    ),
    grp AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qv) AS HUGEINT) AS s1,
               CAST(SUM(CAST(qv AS HUGEINT) * qv) AS HUGEINT) AS s2
        FROM q GROUP BY event_type
    ),
    v AS (
        SELECT event_type, n,
               CAST(n * s2 - s1 * s1 AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (n - 1)) / 1e6 AS var_i
        FROM grp
    ),
    folded AS (
        SELECT CAST(SUM(n) AS BIGINT) AS ntot,
               CAST(COUNT(*) AS BIGINT) AS k,
               LIST(STRUCT_PACK(g := event_type, n := n, var_i := var_i)
                    ORDER BY event_type) AS xs
        FROM v
    ),
    terms AS (
        SELECT ntot, k,
               LIST_REDUCE(LIST_TRANSFORM(xs,
                   s -> (s.n - 1) * s.var_i), (a, b) -> a + b)
                   / (ntot - k) AS sp2,
               LIST_REDUCE(LIST_TRANSFORM(xs,
                   s -> (s.n - 1) * LN(s.var_i)), (a, b) -> a + b) AS lnsum,
               LIST_REDUCE(LIST_TRANSFORM(xs,
                   s -> 1.0e0 / (s.n - 1)), (a, b) -> a + b) AS invsum
        FROM folded
    )
    SELECT ntot AS n_total, k AS n_groups,
           ROUND(sp2, 6) AS pooled_var,
           ROUND(((ntot - k) * LN(sp2) - lnsum)
                 / (1 + (invsum - 1.0e0 / (ntot - k)) / (3.0e0 * (k - 1))), 6)
               AS bartlett_stat
    FROM terms
    """,
)
def agg_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across event types: are the
    per-type value variances equal? The parametric complement to the
    already-registered robust Levene/Brown-Forsythe -- Bartlett is the
    more powerful test when normality holds, and the pair is the standard
    before/after check for variance-stabilizing transforms.

    Determinism: per-group sums run on quantized milli-integers in
    128-bit (n*S2 - S1^2 reaches ~1e22 at sf0.1 -- the
    events_cross_correlation_lagged overflow lesson); each variance is
    one double division from exact integers; the three sums over the
    5-group axis are ORDERED folds over the event_type-sorted struct
    list, so the ln/χ² algebra sees identical IEEE inputs both engines.

    Scale shape: one groupBy(event_type) with map-side partials; folds
    run over k=5 elements."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("qv"),
    )
    dec = "decimal(38,0)"
    grp = q.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("qv").cast(dec)).alias("s1"),
        F.sum(F.col("qv").cast(dec) * F.col("qv")).alias("s2"),
    )
    v = grp.select(
        "event_type",
        "n",
        (
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1))
            / F.lit(1e6)
        ).alias("var_i"),
    )
    folded = v.agg(
        F.sum("n").cast("long").alias("ntot"),
        F.count("*").cast("long").alias("k"),
        F.sort_array(
            F.collect_list(F.struct(F.col("event_type").alias("g"), "n", "var_i"))
        ).alias("xs"),
    )
    terms = folded.select(
        "ntot",
        "k",
        (
            F.expr("aggregate(transform(xs, s -> (s.n - 1) * s.var_i),"
                   " 0d, (a, b) -> a + b)")
            / (F.col("ntot") - F.col("k"))
        ).alias("sp2"),
        F.expr("aggregate(transform(xs, s -> (s.n - 1) * ln(s.var_i)),"
               " 0d, (a, b) -> a + b)").alias("lnsum"),
        F.expr("aggregate(transform(xs, s -> 1.0d / (s.n - 1)),"
               " 0d, (a, b) -> a + b)").alias("invsum"),
    )
    return terms.select(
        F.col("ntot").alias("n_total"),
        F.col("k").alias("n_groups"),
        F.round("sp2", 6).alias("pooled_var"),
        F.round(
            ((F.col("ntot") - F.col("k")) * F.log("sp2") - F.col("lnsum"))
            / (
                1
                + (F.col("invsum") - 1.0 / (F.col("ntot") - F.col("k")))
                / (F.lit(3.0) * (F.col("k") - 1))
            ),
            6,
        ).alias("bartlett_stat"),
    )


@query(
    "agg_jonckheere_terpstra",
    oracle="""
    WITH obs AS (
        SELECT CAST(FLOOR(EXTRACT(HOUR FROM ts) / 6.0) AS BIGINT) AS g,
               CAST(FLOOR(value * 10 + 0.5) AS BIGINT) AS b
        FROM events
    ),
    cells AS (
        SELECT g, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM obs GROUP BY g, b
    ),
    grid AS (
        SELECT gg.g, bb.b, COALESCE(c.c, 0) AS c
        FROM (SELECT DISTINCT g FROM cells) gg
        CROSS JOIN (SELECT DISTINCT b FROM cells) bb
        LEFT JOIN cells c ON c.g = gg.g AND c.b = bb.b
    ),
    cum AS (
        SELECT g, b, c,
               CAST(SUM(c) OVER (PARTITION BY g ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS cumlt
        FROM grid
    ),
    jt2 AS (
        SELECT CAST(SUM(2 * hi.c * COALESCE(lo.cumlt, 0) + lo.c * hi.c)
                    AS BIGINT) AS jt_twice
        FROM cum lo JOIN cum hi ON lo.b = hi.b AND lo.g < hi.g
    ),
    gs AS (
        SELECT CAST(SUM(n) AS HUGEINT) AS ntot,
               CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sn2,
               CAST(SUM(CAST(n AS HUGEINT) * n * (2 * n + 5)) AS HUGEINT)
                   AS sn25,
               CAST(SUM(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT) AS sn_2,
               CAST(SUM(CAST(n AS HUGEINT) * (n - 1) * (n - 2)) AS HUGEINT)
                   AS sn_3
        FROM (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY g)
    ),
    ts_ AS (
        SELECT CAST(SUM(CAST(t AS HUGEINT) * t * (2 * t + 5)) AS HUGEINT)
                   AS st25,
               CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) AS st_2,
               CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS HUGEINT)
                   AS st_3
        FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY b)
    )
    SELECT CAST(ntot AS BIGINT) AS n_total,
           jt_twice,
           ROUND(CAST(ntot * ntot - sn2 AS DOUBLE) / 4, 6) AS jt_mean,
           ROUND((jt_twice / 2.0e0
                  - CAST(ntot * ntot - sn2 AS DOUBLE) / 4)
                 / SQRT(
                     CAST(ntot * ntot * (2 * ntot + 5)
                          - sn25 - st25 AS DOUBLE) / 72
                     + CAST(sn_3 AS DOUBLE) * CAST(st_3 AS DOUBLE)
                       / (36.0e0 * ntot * (ntot - 1) * (ntot - 2))
                     + CAST(sn_2 AS DOUBLE) * CAST(st_2 AS DOUBLE)
                       / (8.0e0 * ntot * (ntot - 1))), 6) AS z_stat
    FROM jt2 CROSS JOIN gs CROSS JOIN ts_
    """,
)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra trend test for an ordered alternative: do event
    values tend to INCREASE across the day's four 6-hour blocks
    (night < morning < afternoon < evening)? JT = sum over ordered group
    pairs a<b of the Mann-Whitney count #{x_a < x_b} + ties/2, against
    its tie-corrected normal approximation (Hollander-Wolfe variance).

    The naive JT is O(N^2) cross-group pairs. Here values bin to
    deci-value integers, and per (group, bin) counts plus a per-group
    cumulative window give U_ab = sum_v c_b(v)*cumlt_a(v) + c_a c_b / 2
    -- the pair sum collapses to a 4x|bins| grid self-joined on bin (<=16
    rows per bin). JT is kept DOUBLED (jt_twice) so it stays an exact
    integer through the tie halves.

    Determinism: every count, cumulative, and moment (n^2(2n+5) etc.) is
    an exact 128-bit integer; the z formula converts once to double with
    identical shape both engines.

    Scale shape: one groupBy(g, bin) with map-side partials; the
    cumulative window partitions by group over ~5.6k bins; the bin-grid
    join is dims-only. Linear in events."""
    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        F.floor(F.hour("ts") / 6).cast("long").alias("g"),
        F.floor(F.col("value") * 10 + F.lit(0.5)).cast("long").alias("b"),
    )
    cells = obs.groupBy("g", "b").agg(F.count("*").cast("long").alias("c"))
    grid = (
        cells.select("g").distinct()
        .crossJoin(cells.select("b").distinct())
        .join(cells, ["g", "b"], "left")
        .select("g", "b", F.coalesce("c", F.lit(0)).alias("c"))
    )
    cum = grid.select(
        "g",
        "b",
        "c",
        F.sum("c")
        .over(Window.partitionBy("g").orderBy("b")
              .rowsBetween(Window.unboundedPreceding, -1))
        .cast("long")
        .alias("cumlt"),
    )
    lo = cum.select(
        F.col("g").alias("ga"), F.col("b").alias("ba"),
        F.col("c").alias("ca"), F.col("cumlt").alias("cumlt_a"),
    )
    hi = cum.select(
        F.col("g").alias("gb"), F.col("b").alias("bb"), F.col("c").alias("cb")
    )
    jt2 = (
        lo.join(hi, (F.col("ba") == F.col("bb")) & (F.col("ga") < F.col("gb")))
        .agg(
            F.sum(
                2 * F.col("cb") * F.coalesce(F.col("cumlt_a"), F.lit(0))
                + F.col("ca") * F.col("cb")
            )
            .cast("long")
            .alias("jt_twice")
        )
    )
    dec = "decimal(38,0)"
    gn = cells.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    gs = gn.agg(
        F.sum(F.col("n").cast(dec)).alias("ntot"),
        F.sum(F.col("n").cast(dec) * F.col("n")).alias("sn2"),
        F.sum(F.col("n").cast(dec) * F.col("n") * (2 * F.col("n") + 5)).alias("sn25"),
        F.sum(F.col("n").cast(dec) * (F.col("n") - 1)).alias("sn_2"),
        F.sum(F.col("n").cast(dec) * (F.col("n") - 1) * (F.col("n") - 2)).alias("sn_3"),
    )
    tn = cells.groupBy("b").agg(F.sum("c").cast("long").alias("t"))
    ts_ = tn.agg(
        F.sum(F.col("t").cast(dec) * F.col("t") * (2 * F.col("t") + 5)).alias("st25"),
        F.sum(F.col("t").cast(dec) * (F.col("t") - 1)).alias("st_2"),
        F.sum(F.col("t").cast(dec) * (F.col("t") - 1) * (F.col("t") - 2)).alias("st_3"),
    )
    j = jt2.crossJoin(gs).crossJoin(ts_)
    ntot = F.col("ntot")
    mean = (ntot * ntot - F.col("sn2")).cast("double") / 4
    var = (
        (ntot * ntot * (2 * ntot + 5) - F.col("sn25") - F.col("st25")).cast("double")
        / 72
        + F.col("sn_3").cast("double")
        * F.col("st_3").cast("double")
        / (
            F.lit(36.0)
            * ntot.cast("double")
            * (ntot.cast("double") - 1)
            * (ntot.cast("double") - 2)
        )
        + F.col("sn_2").cast("double")
        * F.col("st_2").cast("double")
        / (F.lit(8.0) * ntot.cast("double") * (ntot.cast("double") - 1))
    )
    return j.select(
        ntot.cast("long").alias("n_total"),
        "jt_twice",
        F.round(mean, 6).alias("jt_mean"),
        F.round((F.col("jt_twice") / F.lit(2.0) - mean) / F.sqrt(var), 6).alias(
            "z_stat"
        ),
    )
