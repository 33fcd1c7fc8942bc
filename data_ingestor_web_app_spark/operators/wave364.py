"""Wave-364: Fligner-Killeen k-sample scale test (Fligner & Killeen, JASA
1976; the normal-scores form in Conover, Johnson & Johnson 1981) and the
EMSR-b nested protection levels (Belobaba 1992), extending wave362's
Littlewood rule to three fare classes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.operators.wave347 import _probit_col, _probit_sql
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_fligner_killeen",
    oracle=f"""
    WITH x AS (
        SELECT event_type AS g,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type IN ('purchase', 'click', 'view')
    ),
    gcdf AS (
        SELECT g, v, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (PARTITION BY g ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS cc,
               SUM(COUNT(*)) OVER (PARTITION BY g) AS n
        FROM x GROUP BY g, v
    ),
    med AS (
        SELECT g, MIN(v) AS med FROM gcdf WHERE 2 * cc >= n GROUP BY g
    ),
    d AS (
        SELECT x.g, ABS(x.v - m.med) AS dv
        FROM x JOIN med m ON m.g = x.g
    ),
    grid AS (
        SELECT dv, COUNT(*) AS cnt FROM d GROUP BY dv
    ),
    ranked AS (
        SELECT dv, cnt,
               SUM(cnt) OVER (ORDER BY dv ROWS UNBOUNDED PRECEDING)
                   - cnt AS lt,
               SUM(cnt) OVER () AS nn
        FROM grid
    ),
    scores AS (
        -- mid-rank normal score a(dv) = probit(0.5 + rbar/(2(N+1)))
        SELECT r.dv,
               {_probit_sql("0.5 + (r.lt + (r.cnt + 1) / 2.0) / (2.0 * (r.nn + 1))")}
                   AS a,
               r.nn
        FROM ranked r
    ),
    per AS (
        SELECT d.g, s.a, s.nn FROM d JOIN scores s ON s.dv = d.dv
    ),
    moms AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS nj, SUM(a) AS sa,
               MAX(nn) AS nn
        FROM per GROUP BY g
    ),
    tot AS (
        SELECT SUM(a) / MAX(nn) AS abar,
               (SUM(a * a) - SUM(a) * SUM(a) / MAX(nn))
                   / (MAX(nn) - 1) AS v2,
               CAST(MAX(nn) AS BIGINT) AS nn
        FROM per
    )
    SELECT t.nn AS n_total,
           CAST(COUNT(*) AS BIGINT) AS k_groups,
           ROUND(SUM(m.nj * (m.sa / m.nj - t.abar)
                     * (m.sa / m.nj - t.abar)) / t.v2, 6) AS fk_chi2,
           CAST(COUNT(*) - 1 AS BIGINT) AS df
    FROM moms m CROSS JOIN tot t
    GROUP BY t.nn, t.v2
    """,
)
def agg_fligner_killeen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner-Killeen test of scale homogeneity across the purchase /
    click / view value distributions — the rank-based Levene alternative
    R's fligner.test ships, robust to non-normality: normal scores
    a_i = Φ⁻¹(½ + r̄_i/(2(N+1))) of the pooled mid-ranks of |x − med_g|,
    then X² = Σ n_j(ā_j − ā)²/V² with the pooled score variance.

    Determinism: values in exact cents; group medians are exact lower
    order statistics (2·cdf ≥ n); mid-ranks come from the distinct-value
    grid (lt + (cnt+1)/2 — exact rationals); the probit is the shared
    Acklam rational (wave347 literals, identical branches both engines);
    ROUND 6.

    Scale shape: two distinct-value collapses (per-group CDF for the
    medians, pooled deviation grid for the ranks) — windows only over
    aggregates; the score join is grid-sized, broadcastable."""
    x = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click", "view"))
        .select(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    gcdf = x.groupBy("g", "v").agg(F.count("*").alias("cnt"))
    wg = Window.partitionBy("g").orderBy("v")
    gcdf = gcdf.select(
        "g",
        "v",
        F.sum("cnt").over(wg.rowsBetween(Window.unboundedPreceding, 0)).alias("cc"),
        F.sum("cnt").over(Window.partitionBy("g")).alias("n"),
    )
    med = (
        gcdf.where(2 * F.col("cc") >= F.col("n"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
    )
    d = x.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("dv")
    )
    grid = d.groupBy("dv").agg(F.count("*").alias("cnt"))
    wo = Window.orderBy("dv")
    ranked = grid.select(
        "dv",
        "cnt",
        (
            F.sum("cnt").over(wo.rowsBetween(Window.unboundedPreceding, 0))
            - F.col("cnt")
        ).alias("lt"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nn"),
    )
    scores = ranked.select(
        "dv",
        _probit_col(
            0.5
            + (F.col("lt") + (F.col("cnt") + 1) / 2.0)
            / (2.0 * (F.col("nn") + 1))
        ).alias("a"),
        "nn",
    )
    per = d.join(F.broadcast(scores), "dv").select("g", "a", "nn")
    moms = per.groupBy("g").agg(
        F.count("*").cast("long").alias("nj"),
        F.sum("a").alias("sa"),
    )
    tot = per.agg(
        (F.sum("a") / F.max("nn")).alias("abar"),
        (
            (F.sum(F.col("a") * F.col("a")) - F.sum("a") * F.sum("a") / F.max("nn"))
            / (F.max("nn") - 1)
        ).alias("v2"),
        F.max("nn").cast("long").alias("n_total"),
    )
    dev = F.col("sa") / F.col("nj") - F.col("abar")
    return (
        moms.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_total").alias("n_total"),
            F.count("*").cast("long").alias("k_groups"),
            F.sum(F.col("nj") * dev * dev).alias("num"),
            F.max("v2").alias("v2x"),
        )
        .select(
            "n_total",
            "k_groups",
            F.round(F.col("num") / F.col("v2x"), 6).alias("fk_chi2"),
            (F.col("k_groups") - 1).cast("long").alias("df"),
        )
    )


@query(
    "opt_emsr_b",
    oracle="""
    WITH cls AS (
        SELECT o_orderdate AS day,
               CASE o_orderpriority
                    WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                    WHEN '3-MEDIUM' THEN 3 ELSE 4 END AS c,
               o_totalprice AS tp
        FROM orders
    ),
    fares AS (
        SELECT c, AVG(tp) AS f, COUNT(*) AS n_orders FROM cls GROUP BY c
    ),
    rank_f AS (
        SELECT c, f,
               ROW_NUMBER() OVER (ORDER BY f DESC, c) AS j
        FROM fares
    ),
    dd AS (
        SELECT cls.day, r.j, COUNT(*) AS dj
        FROM cls JOIN rank_f r ON r.c = cls.c
        GROUP BY cls.day, r.j
    ),
    days AS (SELECT DISTINCT day FROM cls),
    lvl AS (SELECT 1 AS j UNION ALL SELECT 2 UNION ALL SELECT 3),
    agg_d AS (
        SELECT d.day, l.j,
               COALESCE(SUM(CASE WHEN dd.j <= l.j THEN dd.dj END), 0) AS s
        FROM days d CROSS JOIN lvl l
        LEFT JOIN dd ON dd.day = d.day AND dd.j <= l.j
        GROUP BY d.day, l.j
    ),
    mu AS (
        SELECT r.j, r.f, AVG(dd.dj) AS mu_j
        FROM rank_f r LEFT JOIN dd ON dd.j = r.j
        GROUP BY r.j, r.f
    ),
    fbar AS (
        SELECT l.j,
               SUM(m.f * m.mu_j) / SUM(m.mu_j) AS f_bar,
               (SELECT f FROM rank_f WHERE rank_f.j = l.j + 1) AS f_next
        FROM lvl l JOIN mu m ON m.j <= l.j
        GROUP BY l.j
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
    edf AS (
        SELECT j, s AS y, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (PARTITION BY j ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS cdf_cnt
        FROM agg_d GROUP BY j, s
    ),
    pick AS (
        SELECT e.j, MIN(e.y) AS ystar
        FROM edf e JOIN fbar fb ON fb.j = e.j CROSS JOIN nd
        WHERE e.cdf_cnt * fb.f_bar >= nd.n * (fb.f_bar - fb.f_next)
        GROUP BY e.j
    )
    SELECT CAST(fb.j AS BIGINT) AS j,
           ROUND(fb.f_bar, 6) AS fare_bar,
           ROUND(fb.f_next, 6) AS fare_next,
           ROUND(fb.f_next / fb.f_bar, 6) AS critical_ratio,
           CAST(p.ystar AS BIGINT) AS protection_level
    FROM fbar fb JOIN pick p ON p.j = fb.j
    ORDER BY fb.j
    """,
)
def opt_emsr_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMSR-b nested protection levels (Belobaba 1992) — the heuristic
    airlines actually run — over four fare classes derived from order
    priority (fares = class average order value, classes indexed by fare
    DESC so j = 1 is the premium cabin): for each j, the classes 1..j
    aggregate into one virtual class with demand-weighted fare f̄_j, and
    the protection y_j against class j+1 is the critical fractile of
    the EMPIRICAL daily aggregate-demand distribution (same product-form
    fractile test as wave362's Littlewood rule, which is the j = 1
    special case).

    Determinism: demands and EDF positions are exact integers; fares
    are AVGs; fractile comparison stays in products; ROUND 6.

    Scale shape: one (day, class) collapse, a 3-level nested-demand
    grid (calendar × 3), per-level EDF windows over distinct demand
    values — all aggregates, all broadcastable."""
    o = table(spark, sf_dir, "orders")
    cls = o.select(
        F.col("o_orderdate").alias("day"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .otherwise(4)
        .alias("c"),
        F.col("o_totalprice").alias("tp"),
    )
    fares = cls.groupBy("c").agg(F.avg("tp").alias("f"))
    rank_f = fares.select(
        "c",
        "f",
        F.row_number().over(Window.orderBy(F.col("f").desc(), "c")).alias("j"),
    )
    dd = (
        cls.join(F.broadcast(rank_f.select("c", "j")), "c")
        .groupBy("day", "j")
        .agg(F.count("*").alias("dj"))
    )
    days = cls.select("day").distinct()
    lvl = spark.range(1, 4).select(F.col("id").cast("int").alias("lj"))
    dd2 = dd.select(F.col("day").alias("dday"), F.col("j").alias("dj_j"), "dj")
    agg_d = (
        days.crossJoin(F.broadcast(lvl))
        .join(
            dd2,
            (F.col("day") == F.col("dday")) & (F.col("dj_j") <= F.col("lj")),
            "left",
        )
        .groupBy("day", "lj")
        .agg(F.coalesce(F.sum("dj"), F.lit(0)).alias("s"))
    )
    mu = (
        rank_f.join(dd.select("j", "dj"), "j", "left")
        .groupBy("j", "f")
        .agg(F.avg("dj").alias("mu_j"))
    )
    nxt = rank_f.select((F.col("j") - 1).alias("lj"), F.col("f").alias("f_next"))
    fbar = (
        lvl.join(F.broadcast(mu), mu["j"] <= F.col("lj"))
        .groupBy("lj")
        .agg((F.sum(F.col("f") * F.col("mu_j")) / F.sum("mu_j")).alias("f_bar"))
        .join(F.broadcast(nxt), "lj")
    )
    nd = days.agg(F.count("*").cast("long").alias("n"))
    edf = agg_d.groupBy("lj", F.col("s").alias("y")).agg(F.count("*").alias("cnt"))
    edf = edf.withColumn(
        "cdf_cnt",
        F.sum("cnt").over(
            Window.partitionBy("lj")
            .orderBy("y")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    pick = (
        edf.join(F.broadcast(fbar), "lj")
        .crossJoin(F.broadcast(nd))
        .where(
            F.col("cdf_cnt") * F.col("f_bar")
            >= F.col("n") * (F.col("f_bar") - F.col("f_next"))
        )
        .groupBy("lj")
        .agg(F.min("y").alias("ystar"))
    )
    return (
        fbar.join(pick, "lj")
        .select(
            F.col("lj").cast("long").alias("j"),
            F.round("f_bar", 6).alias("fare_bar"),
            F.round("f_next", 6).alias("fare_next"),
            F.round(F.col("f_next") / F.col("f_bar"), 6).alias("critical_ratio"),
            F.col("ystar").cast("long").alias("protection_level"),
        )
        .orderBy("j")
    )
