"""Wave-129: energy distance, Brown–Forsythe (Levene) variance
homogeneity, and the Friedman rank test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DAILY = """
    daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    lab AS (
        SELECT day, x,
               CASE WHEN ROW_NUMBER() OVER (ORDER BY day)
                         <= COUNT(*) OVER () / 2
                    THEN 'A' ELSE 'B' END AS grp
        FROM daily
    )
"""


@query(
    "agg_energy_distance",
    oracle=f"""
    WITH {_DAILY},
    a AS (SELECT x FROM lab WHERE grp = 'A'),
    b AS (SELECT x FROM lab WHERE grp = 'B'),
    sizes AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS na,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS nb
    ),
    sab AS (SELECT CAST(SUM(ABS(a.x - b.x)) AS BIGINT) AS s
            FROM a CROSS JOIN b),
    saa AS (SELECT CAST(SUM(ABS(p.x - q.x)) AS BIGINT) AS s
            FROM a p CROSS JOIN a q),
    sbb AS (SELECT CAST(SUM(ABS(p.x - q.x)) AS BIGINT) AS s
            FROM b p CROSS JOIN b q)
    SELECT z.na, z.nb, sab.s AS s_ab, saa.s AS s_aa, sbb.s AS s_bb,
           ROUND(2.0 * sab.s / (z.na * z.nb)
                 - CAST(saa.s AS DOUBLE) / (z.na * z.na)
                 - CAST(sbb.s AS DOUBLE) / (z.nb * z.nb), 6) AS energy_dist,
           ROUND((CAST(z.na AS DOUBLE) * z.nb / (z.na + z.nb))
                 * (2.0 * sab.s / (z.na * z.nb)
                    - CAST(saa.s AS DOUBLE) / (z.na * z.na)
                    - CAST(sbb.s AS DOUBLE) / (z.nb * z.nb)), 6) AS t_stat
    FROM sizes z CROSS JOIN sab CROSS JOIN saa CROSS JOIN sbb
    """,
)
def agg_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance two-sample statistic (Székely & Rizzo 2004,
    public) between first- and second-half daily event counts:
    E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| (V-statistic convention), with the
    test statistic T = (nm/(n+m))·E. Zero iff the distributions are
    equal — a drift metric sensitive to ALL moments, complementing KS
    (sup), CvM (L2 of CDF) and Wasserstein (L1 of CDF) in the drift
    battery.

    Determinism: all three pairwise |Δ| sums are exact BIGINTs from the
    O(d²) self-joins on the tiny daily frame; E and T are one rounded
    double chain. Scale: aggregate-then-quadratic (agg_kendall_tau
    posture) — the stream collapses map-side first."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wd = Window.orderBy("day")
    lab = daily.select(
        "x",
        F.when(
            F.row_number().over(wd)
            <= F.count("*").over(Window.partitionBy()) / 2,
            "A",
        )
        .otherwise("B")
        .alias("grp"),
    )
    a = lab.where(F.col("grp") == "A").select(F.col("x").alias("xa"))
    b = lab.where(F.col("grp") == "B").select(F.col("x").alias("xb"))
    sizes = lab.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).cast("long").alias("nb"),
    )
    s_ab = a.crossJoin(b).agg(
        F.sum(F.abs(F.col("xa") - F.col("xb"))).cast("long").alias("s_ab")
    )
    p = a.select(F.col("xa").alias("p"))
    q = a.select(F.col("xa").alias("q"))
    s_aa = p.crossJoin(q).agg(
        F.sum(F.abs(F.col("p") - F.col("q"))).cast("long").alias("s_aa")
    )
    p2 = b.select(F.col("xb").alias("p"))
    q2 = b.select(F.col("xb").alias("q"))
    s_bb = p2.crossJoin(q2).agg(
        F.sum(F.abs(F.col("p") - F.col("q"))).cast("long").alias("s_bb")
    )
    e = (
        2.0 * F.col("s_ab") / (F.col("na") * F.col("nb"))
        - F.col("s_aa").cast("double") / (F.col("na") * F.col("na"))
        - F.col("s_bb").cast("double") / (F.col("nb") * F.col("nb"))
    )
    return (
        sizes.crossJoin(s_ab)
        .crossJoin(s_aa)
        .crossJoin(s_bb)
        .select(
            "na",
            "nb",
            "s_ab",
            "s_aa",
            "s_bb",
            F.round(e, 6).alias("energy_dist"),
            F.round(
                (F.col("na").cast("double") * F.col("nb") / (F.col("na") + F.col("nb")))
                * e,
                6,
            ).alias("t_stat"),
        )
    )


@query(
    "agg_levene_brown_forsythe",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, day
    ),
    med AS (
        SELECT event_type, x AS median FROM (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, day)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM d) t
        WHERE rn = (n + 1) // 2
    ),
    z AS (
        SELECT d.event_type, ABS(d.x - m.median) AS z
        FROM d JOIN med m USING (event_type)
    ),
    g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nj,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(z * z) AS BIGINT) AS szz
        FROM z GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(sz) AS BIGINT) AS szt,
               SUM(CAST(sz AS DOUBLE) * sz / nj) AS ssb_part,
               CAST(SUM(szz) AS BIGINT) AS szzt
        FROM g
    )
    SELECT n, k,
           ROUND((ssb_part - CAST(szt AS DOUBLE) * szt / n)
                 / (k - 1), 6) AS ms_between,
           ROUND((szzt - ssb_part) / (n - k), 6) AS ms_within,
           ROUND(((ssb_part - CAST(szt AS DOUBLE) * szt / n) / (k - 1))
                 / ((szzt - ssb_part) / (n - k)), 6) AS w_stat
    FROM tot
    """,
)
def agg_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test (1974, public; Levene's
    test with the median center, the robust variant): per event type,
    absolute deviations of daily counts from the type's lower median,
    then the one-way ANOVA F over those deviations. Guards the equal-
    variance assumption the plain ANOVA (agg_anova_oneway) makes.

    Determinism: the lower median is an exact order statistic (the
    ⌈n/2⌉-th smallest with a day tie-break), so every z is an exact
    integer; between/within sums assemble from integer Σz, Σz² in one
    identical double chain.

    Scale shape: one map-side-combined collapse to type-days, a
    broadcast of k medians, two tiny aggregates."""
    d = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wm = Window.partitionBy("event_type").orderBy("x", "day")
    med = (
        d.select(
            "event_type",
            "x",
            F.row_number().over(wm).alias("rn"),
            F.count("*").over(Window.partitionBy("event_type")).alias("n"),
        )
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("x").alias("median"))
    )
    z = d.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("x") - F.col("median")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nj"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
    )
    tot = g.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("sz").cast("long").alias("szt"),
        F.sum(F.col("sz").cast("double") * F.col("sz") / F.col("nj")).alias(
            "ssb_part"
        ),
        F.sum("szz").cast("long").alias("szzt"),
    )
    msb = (
        F.col("ssb_part") - F.col("szt").cast("double") * F.col("szt") / F.col("n")
    ) / (F.col("k") - 1)
    msw = (F.col("szzt") - F.col("ssb_part")) / (F.col("n") - F.col("k"))
    return tot.select(
        "n",
        "k",
        F.round(msb, 6).alias("ms_between"),
        F.round(msw, 6).alias("ms_within"),
        F.round(msb / msw, 6).alias("w_stat"),
    )


@query(
    "agg_friedman_test",
    oracle="""
    WITH grid AS (
        SELECT t.event_type, w.wk FROM
            (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT DISTINCT WEEK(CAST(ts AS DATE)) AS wk
                    FROM events) w
    ),
    cnt AS (
        SELECT event_type, WEEK(CAST(ts AS DATE)) AS wk,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, wk
    ),
    cell AS (
        SELECT g.event_type, g.wk, COALESCE(c.x, 0) AS x
        FROM grid g LEFT JOIN cnt c
          ON c.event_type = g.event_type AND c.wk = g.wk
    ),
    r AS (
        SELECT event_type, wk,
               2 * (COUNT(*) OVER (PARTITION BY wk ORDER BY x
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
               + COUNT(*) OVER (PARTITION BY wk, x) + 1 AS r2
        FROM cell
    ),
    pt AS (
        SELECT event_type, CAST(SUM(r2) AS BIGINT) AS rsum2
        FROM r GROUP BY event_type
    ),
    dims AS (
        SELECT CAST((SELECT COUNT(DISTINCT wk) FROM cell) AS BIGINT) AS b,
               CAST((SELECT COUNT(DISTINCT event_type) FROM cell) AS BIGINT)
                   AS k,
               CAST((SELECT SUM(r2 * r2) FROM r) AS BIGINT) AS ssr4
    )
    SELECT d.b, d.k,
           ROUND((d.k - 1) * (
               SUM((p.rsum2 - d.b * (d.k + 1))
                   * CAST(p.rsum2 - d.b * (d.k + 1) AS DOUBLE)) / (4.0 * d.b)
           ) / ((d.ssr4 - d.b * d.k * (d.k + 1) * (d.k + 1)) / 4.0), 6)
               AS q_stat
    FROM pt p CROSS JOIN dims d
    GROUP BY d.b, d.k, d.ssr4
    """,
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test (1937, public; tie-corrected general form) for
    consistent event-type ordering across weekly blocks: within each
    week, event types are midranked by volume; Q = (k−1)·Σ_j(R_j −
    b(k+1)/2)² / (Σr² − bk(k+1)²/4). Large Q = some types
    systematically out-rank others week after week (a repeated-measures
    ANOVA on ranks, robust to the volume distribution).

    Determinism: doubled midranks keep everything integer — rank sums,
    the centered squares (scaled by 4), and the tie-corrected
    denominator (Σ(2r)² − bk(k+1)² all ×4, the 4s cancel in Q) —
    assembled in one identical double chain. Missing type-weeks enter
    as zero-count cells via the explicit grid, identically in both
    engines.

    Scale shape: weekly collapse map-side; ranking windows run over the
    tiny k×b grid."""
    e = table(spark, sf_dir, "events")
    types = e.select("event_type").distinct()
    weeks = e.select(F.weekofyear(F.col("ts").cast("date")).alias("wk")).distinct()
    grid = types.crossJoin(weeks)
    cnt = e.groupBy(
        "event_type", F.weekofyear(F.col("ts").cast("date")).alias("wk")
    ).agg(F.count("*").cast("long").alias("x"))
    cell = grid.join(cnt, ["event_type", "wk"], "left").select(
        "event_type", "wk", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    wv = Window.partitionBy("wk").orderBy("x").rangeBetween(
        Window.unboundedPreceding, -1
    )
    r = cell.select(
        "event_type",
        "wk",
        (
            2 * F.coalesce(F.count("*").over(wv), F.lit(0))
            + F.count("*").over(Window.partitionBy("wk", "x"))
            + 1
        ).alias("r2"),
    )
    pt = r.groupBy("event_type").agg(F.sum("r2").cast("long").alias("rsum2"))
    dims = r.agg(
        F.count_distinct("wk").cast("long").alias("b"),
        F.count_distinct("event_type").cast("long").alias("k"),
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("ssr4"),
    )
    dev = F.col("rsum2") - F.col("b") * (F.col("k") + 1)
    return (
        pt.crossJoin(F.broadcast(dims))
        .groupBy("b", "k", "ssr4")
        .agg(
            F.round(
                (F.col("k") - 1)
                * (F.sum(dev * dev.cast("double")) / (4.0 * F.col("b")))
                / (
                    (
                        F.col("ssr4")
                        - F.col("b") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
                    )
                    / 4.0
                ),
                6,
            ).alias("q_stat")
        )
        .select("b", "k", "q_stat")
    )
