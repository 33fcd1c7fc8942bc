"""Wave-249: completing the k-sample test family — the Scholz-Stephens
k-sample Anderson-Darling test (with its exact finite-N standardization,
including the double-harmonic g computed in O(N) from prefix sums) and
the Conover squared-ranks scale test with a median center. Both compare
the event-type groups of `value`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_ad_ksample",
    oracle="""
    WITH pts AS (SELECT event_type AS g, value AS x FROM events),
    sizes AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(1.0 / n_i) AS hh
        FROM (SELECT g, COUNT(*) AS n_i FROM pts GROUP BY g)
    ),
    byval AS (
        SELECT x, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY x, g
    ),
    pooled AS (
        SELECT x, CAST(SUM(c) AS BIGINT) AS l FROM byval GROUP BY x
    ),
    bcum AS (
        SELECT x, l, SUM(l) OVER (ORDER BY x) AS b FROM pooled
    ),
    mcum AS (
        SELECT g, x, SUM(c) OVER (PARTITION BY g ORDER BY x) AS m
        FROM byval
    ),
    groups_n AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i FROM pts GROUP BY g
    ),
    grid AS (
        SELECT g, n_i, x, l, b,
               COALESCE(LAST_VALUE(mv IGNORE NULLS)
                        OVER (PARTITION BY g ORDER BY x
                              ROWS UNBOUNDED PRECEDING), 0) AS m
        FROM (
            SELECT n.g, n.n_i, b.x, b.l, b.b, mc.m AS mv
            FROM bcum b
            CROSS JOIN groups_n n
            LEFT JOIN mcum mc ON mc.g = n.g AND mc.x = b.x
        )
        QUALIFY b < (SELECT nn FROM sizes)
    ),
    a2 AS (
        SELECT SUM((1.0 / n_i) * l
                   * ((SELECT nn FROM sizes) * m - n_i * b)
                   * ((SELECT nn FROM sizes) * m - n_i * b)
                   / ((SELECT nn FROM sizes) * b
                      * ((SELECT nn FROM sizes) - b))) AS a2kn
        FROM grid
    ),
    harm AS (
        SELECT i, SUM(1.0 / i) OVER (ORDER BY i) AS hsum
        FROM (SELECT UNNEST(RANGE(1, (SELECT nn FROM sizes))) AS i)
    ),
    hconst AS (
        SELECT (SELECT hsum FROM harm
                WHERE i = (SELECT nn FROM sizes) - 1) AS h
    ),
    gsum AS (
        SELECT SUM((hc.h - hj.hsum) / j.i) AS g
        FROM harm j
        JOIN harm hj ON hj.i = (SELECT nn FROM sizes) - j.i
        CROSS JOIN hconst hc
        WHERE j.i >= 2 AND j.i <= (SELECT nn FROM sizes) - 1
    ),
    coef AS (
        SELECT s.nn, s.k, s.hh, hc.h, gs.g, a2.a2kn,
               (4 * gs.g - 6) * (s.k - 1) + (10 - 6 * gs.g) * s.hh AS ca,
               (2 * gs.g - 4) * s.k * s.k + 8 * hc.h * s.k
                 + (2 * gs.g - 14 * hc.h - 4) * s.hh - 8 * hc.h
                 + 4 * gs.g - 6 AS cb,
               (6 * hc.h + 2 * gs.g - 2) * s.k * s.k
                 + (4 * hc.h - 4 * gs.g + 6) * s.k
                 + (2 * hc.h - 6) * s.hh + 4 * hc.h AS cc,
               (2 * hc.h + 6) * s.k * s.k - 4 * hc.h * s.k AS cd
        FROM sizes s CROSS JOIN hconst hc CROSS JOIN gsum gs CROSS JOIN a2
    )
    SELECT nn AS n_obs, k AS n_groups,
           ROUND(a2kn, 6) AS a2kn,
           ROUND((ca * nn * nn * nn + cb * nn * nn + cc * nn + cd)
                 / ((nn - 1.0) * (nn - 2.0) * (nn - 3.0)), 6) AS var_a2,
           ROUND((a2kn - (k - 1))
                 / SQRT((ca * nn * nn * nn + cb * nn * nn + cc * nn + cd)
                        / ((nn - 1.0) * (nn - 2.0) * (nn - 3.0))), 6)
               AS t_stat
    FROM coef
    """,
)
def agg_ad_ksample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scholz-Stephens k-sample Anderson-Darling test (Scholz &
    Stephens, JASA 1987, public), the rank-EDF test that weights tail
    disagreement — the k-sample upgrade of agg_ks_test / the omnibus
    companion to agg_kruskal_wallis (which only sees location):
    A2kN = sum_i (1/n_i) sum_j l_j (N*M_ij - n_i*B_j)^2 / (N B_j (N-B_j))
    over pooled distinct values below the maximum, standardized by the
    paper's exact finite-N variance (a cubic in N whose coefficients
    need h = H_{N-1} and the double harmonic g = sum_{i<j} 1/((N-i)j)).

    Exactness device: g collapses to an O(N) single sum via
    g = sum_j (H_{N-1} - H_{N-j})/j with harmonic PREFIX sums computed
    as an ordered window (sequential accumulation — same order both
    engines); counts M, B, l stay integers; three rounded outputs.

    Scale shape: the EDF grid is the distinct-value frame with
    per-group cumulative counts (the wave239 device, k-column); the
    harmonic frame is O(N) rows of pure arithmetic, embarrassingly
    partitionable at 100 TB via the two-phase sharded prefix sum."""
    pts = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("value").alias("x")
    )
    n_i = pts.groupBy("g").agg(F.count("*").cast("long").alias("n_i"))
    sizes = n_i.agg(
        F.sum("n_i").cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
        F.sum(1.0 / F.col("n_i")).alias("hh"),
    )
    byval = pts.groupBy("x", "g").agg(F.count("*").cast("long").alias("c"))
    pooled = byval.groupBy("x").agg(F.sum("c").cast("long").alias("l"))
    wb = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    bcum = pooled.select("x", "l", F.sum("l").over(wb).alias("b"))
    wg = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    mcum = byval.select("g", "x", F.sum("c").over(wg).alias("m"))
    # grid: for every (group, pooled value) pair, the group's cumulative
    # count at that value — equi-join on (g, x) then forward-fill the
    # last known per-group count (the plan that scales)
    grid_base = (
        bcum.crossJoin(F.broadcast(n_i))
        .join(
            mcum.select(
                F.col("g").alias("mg"), F.col("x").alias("xx"), "m"
            ),
            (F.col("g") == F.col("mg")) & (F.col("x") == F.col("xx")),
            "left_outer",
        )
        .drop("mg", "xx")
    )
    wfill = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grid = grid_base.select(
        "g",
        "n_i",
        "x",
        "l",
        "b",
        F.coalesce(F.last("m", ignorenulls=True).over(wfill), F.lit(0)).alias(
            "m"
        ),
    )
    a2 = (
        grid.crossJoin(F.broadcast(sizes))
        .where(F.col("b") < F.col("nn"))
        .agg(
            F.sum(
                (1.0 / F.col("n_i"))
                * F.col("l")
                * (F.col("nn") * F.col("m") - F.col("n_i") * F.col("b"))
                * (F.col("nn") * F.col("m") - F.col("n_i") * F.col("b"))
                / (
                    F.col("nn")
                    * F.col("b")
                    * (F.col("nn") - F.col("b"))
                )
            ).alias("a2kn")
        )
    )
    # N is needed to SIZE the harmonic frame — a bounded 1-value count at
    # build time (the llm/wave139 bounded-collect precedent); the harmonic
    # prefix sum itself is an ordered window (sequential accumulation,
    # same order in both engines)
    nn_count = pts.count()
    harm = spark.range(1, nn_count).select(
        F.col("id").alias("i")
    ).withColumn(
        "hsum",
        F.sum(1.0 / F.col("i")).over(
            Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    hconst = harm.where(F.col("i") == nn_count - 1).select(
        F.col("hsum").alias("h")
    )
    hj = harm.select(F.col("i").alias("ij"), F.col("hsum").alias("hsj"))
    gsum = (
        harm.where((F.col("i") >= 2) & (F.col("i") <= nn_count - 1))
        .join(hj, F.col("ij") == F.lit(nn_count) - F.col("i"))
        .crossJoin(F.broadcast(hconst))
        .agg(F.sum((F.col("h") - F.col("hsj")) / F.col("i")).alias("g"))
    )
    coef = (
        sizes.crossJoin(F.broadcast(hconst))
        .crossJoin(F.broadcast(gsum))
        .crossJoin(F.broadcast(a2))
    )
    k, h, g, hhc = F.col("k"), F.col("h"), F.col("g"), F.col("hh")
    ca = (4 * g - 6) * (k - 1) + (10 - 6 * g) * hhc
    cb = (
        (2 * g - 4) * k * k
        + 8 * h * k
        + (2 * g - 14 * h - 4) * hhc
        - 8 * h
        + 4 * g
        - 6
    )
    cc = (
        (6 * h + 2 * g - 2) * k * k
        + (4 * h - 4 * g + 6) * k
        + (2 * h - 6) * hhc
        + 4 * h
    )
    cd = (2 * h + 6) * k * k - 4 * h * k
    nn = F.col("nn")
    var_a2 = (ca * nn * nn * nn + cb * nn * nn + cc * nn + cd) / (
        (nn - 1.0) * (nn - 2.0) * (nn - 3.0)
    )
    return coef.select(
        nn.alias("n_obs"),
        k.alias("n_groups"),
        F.round("a2kn", 6).alias("a2kn"),
        F.round(var_a2, 6).alias("var_a2"),
        F.round((F.col("a2kn") - (k - 1)) / F.sqrt(var_a2), 6).alias(
            "t_stat"
        ),
    )


@query(
    "agg_conover_squared_ranks",
    oracle="""
    WITH med AS (
        SELECT event_type AS g,
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type AS g, ABS(e.value - m.med) AS d
        FROM events e JOIN med m ON m.g = e.event_type
    ),
    byval AS (
        SELECT d, g, CAST(COUNT(*) AS BIGINT) AS c FROM dev GROUP BY d, g
    ),
    pooled AS (
        SELECT d, CAST(SUM(c) AS BIGINT) AS cnt FROM byval GROUP BY d
    ),
    ranked AS (
        SELECT d, cnt,
               SUM(cnt) OVER (ORDER BY d) - cnt AS bef
        FROM pooled
    ),
    scored AS (
        SELECT d, (bef + (cnt + 1) / 2.0) * (bef + (cnt + 1) / 2.0) AS u
        FROM ranked
    ),
    per_g AS (
        SELECT b.g, CAST(SUM(b.c) AS BIGINT) AS n_i,
               SUM(b.c * s.u) AS s_i
        FROM byval b JOIN scored s ON s.d = b.d
        GROUP BY b.g
    ),
    mom AS (
        SELECT CAST(SUM(b.c) AS BIGINT) AS nn,
               SUM(b.c * s.u) / SUM(b.c) AS ubar,
               SUM(b.c * s.u * s.u) AS u2
        FROM byval b JOIN scored s ON s.d = b.d
    ),
    tstat AS (
        SELECT m.nn, ubar,
               (u2 - m.nn * ubar * ubar) / (m.nn - 1) AS d2,
               (SELECT SUM(s_i * s_i / n_i) FROM per_g) AS ss,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM per_g) AS k
        FROM mom m
    )
    SELECT nn AS n_obs, k AS n_groups,
           ROUND(ubar, 6) AS mean_sq_rank,
           ROUND((ss - nn * ubar * ubar) / d2, 6) AS t_stat,
           (ss - nn * ubar * ubar) / d2 > 9.487729 AS scale_differs
    FROM tstat
    """,
)
def agg_conover_squared_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conover's squared-ranks test for k-sample scale equality (Conover
    & Iman 1981; Conover, Practical Nonparametric Statistics, public),
    with a MEDIAN center: rank the pooled absolute deviations |x -
    median(group)| (midranks for ties), square the ranks, and test
    T = (sum_i S_i^2/n_i - N*ubar^2) / D^2 ~ chi2(k-1) against the
    literal 5% point 9.487729 (k=5) — the nonparametric Levene
    alternative that needs no normality anywhere. The median (an exact
    order statistic, percentile_disc) replaces Conover's group mean so
    the deviations are bit-identical across engines: a float mean would
    differ by summation order and could flip midrank ties.

    Exactness device: midranks from the grouped distinct-value device
    (wave239); squared-rank sums are exact rational chains; the flag
    compares the identical unrounded T.

    Scale shape: one median per group (exact percentile on the value
    shuffle), one distinct-value rollup, two moment aggregates."""
    # exact order statistic (PERCENTILE_DISC semantics): the element at
    # ceil(n/2) of the sorted group — an actual data value, identical
    # across engines, unlike an interpolated or mean center
    med = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("g"))
        .agg(
            F.expr(
                "element_at(array_sort(collect_list(value)),"
                " cast(ceil(count(*) * 0.5) as int))"
            ).alias("med")
        )
    )
    e = table(spark, sf_dir, "events")
    dev = e.join(med, e.event_type == med.g).select(
        "g", F.abs(F.col("value") - F.col("med")).alias("d")
    )
    byval = dev.groupBy("d", "g").agg(F.count("*").cast("long").alias("c"))
    pooled = byval.groupBy("d").agg(F.sum("c").cast("long").alias("cnt"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    ranked = pooled.select(
        "d", "cnt", (F.sum("cnt").over(w) - F.col("cnt")).alias("bef")
    )
    mid = F.col("bef") + (F.col("cnt") + 1) / 2.0
    scored = ranked.select("d", (mid * mid).alias("u"))
    bs = byval.join(scored, "d")
    per_g = bs.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_i"),
        F.sum(F.col("c") * F.col("u")).alias("s_i"),
    )
    mom = bs.agg(
        F.sum("c").cast("long").alias("nn"),
        (F.sum(F.col("c") * F.col("u")) / F.sum("c")).alias("ubar"),
        F.sum(F.col("c") * F.col("u") * F.col("u")).alias("u2"),
    )
    ssk = per_g.agg(
        F.sum(F.col("s_i") * F.col("s_i") / F.col("n_i")).alias("ss"),
        F.count("*").cast("long").alias("k"),
    )
    t = mom.crossJoin(F.broadcast(ssk)).select(
        "nn",
        "k",
        "ubar",
        (
            (F.col("ss") - F.col("nn") * F.col("ubar") * F.col("ubar"))
            / ((F.col("u2") - F.col("nn") * F.col("ubar") * F.col("ubar"))
               / (F.col("nn") - 1))
        ).alias("t"),
    )
    return t.select(
        F.col("nn").alias("n_obs"),
        F.col("k").alias("n_groups"),
        F.round("ubar", 6).alias("mean_sq_rank"),
        F.round("t", 6).alias("t_stat"),
        (F.col("t") > 9.487729).alias("scale_differs"),
    )
