"""Wave-133: effect sizes, f-divergence family over token distributions,
and the V-optimal histogram DP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_effect_sizes",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS x
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q
        FROM v GROUP BY event_type
    ),
    w AS (
        SELECT
            (SELECT n FROM g WHERE event_type = 'click') AS n1,
            (SELECT s FROM g WHERE event_type = 'click') AS s1,
            (SELECT q FROM g WHERE event_type = 'click') AS q1,
            (SELECT n FROM g WHERE event_type = 'purchase') AS n2,
            (SELECT s FROM g WHERE event_type = 'purchase') AS s2,
            (SELECT q FROM g WHERE event_type = 'purchase') AS q2
    ),
    m AS (
        SELECT n1, n2,
               s1 * 1e0 / n1 - s2 * 1e0 / n2 AS diff,
               (q1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
               (q2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS v2
        FROM w
    )
    SELECT n1, n2,
           ROUND(diff / SQRT(((n1 - 1) * v1 + (n2 - 1) * v2)
                             / (n1 + n2 - 2)), 6) AS cohens_d,
           ROUND((diff / SQRT(((n1 - 1) * v1 + (n2 - 1) * v2)
                              / (n1 + n2 - 2)))
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
           ROUND(diff / SQRT(v2), 6) AS glass_delta
    FROM m
    """,
)
def agg_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes (Cohen 1969; Hedges 1981; Glass 1976 —
    all public) between click and purchase value distributions: Cohen's
    d over the pooled SD, Hedges' g with the small-sample correction
    1 − 3/(4N−9), and Glass's Δ against the control (purchase) SD. The
    practical-significance companion to the p-value battery: a drift can
    be wildly significant and still tiny.

    Determinism: sums and sums-of-squares are exact milli-int BIGINTs;
    each statistic is one identical double chain (sample variances,
    n−1).

    Scale shape: one map-side-combined groupBy; everything after runs on
    two rows."""
    v = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            F.round(F.col("value") * 1000).cast("long").alias("x"),
        )
    )
    g = v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    one = g.where(F.col("event_type") == "click").select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    two = g.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2")
    )
    w = one.crossJoin(two)
    diff = F.col("s1") * F.lit(1.0) / F.col("n1") - F.col("s2") * F.lit(1.0) / F.col("n2")
    v1 = (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    v2 = (F.col("q2") - F.col("s2").cast("double") * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    pooled = F.sqrt(
        ((F.col("n1") - 1) * v1 + (F.col("n2") - 1) * v2)
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = diff / pooled
    return w.select(
        "n1",
        "n2",
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6
        ).alias("hedges_g"),
        F.round(diff / F.sqrt(v2), 6).alias("glass_delta"),
    )


@query(
    "agg_divergence_family",
    oracle="""
    WITH toks AS (
        SELECT lang, tok FROM (
            SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents WHERE lang IN ('en', 'de'))
    ),
    c AS (
        SELECT tok,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
               CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
        FROM toks GROUP BY tok
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM c
    ),
    terms AS (
        SELECT
            CAST(ROUND(1000000000 * (
                CASE WHEN ca > 0 THEN 0.5 * (ca * 1e0 / na)
                     * LN((ca * 1e0 / na)
                          / (0.5 * (ca * 1e0 / na) + 0.5 * (cb * 1e0 / nb)))
                     ELSE 0 END
                + CASE WHEN cb > 0 THEN 0.5 * (cb * 1e0 / nb)
                       * LN((cb * 1e0 / nb)
                            / (0.5 * (ca * 1e0 / na) + 0.5 * (cb * 1e0 / nb)))
                       ELSE 0 END)) AS BIGINT) AS js_nano,
            CAST(ROUND(1000000000 *
                (SQRT(ca * 1e0 / na) - SQRT(cb * 1e0 / nb))
                * (SQRT(ca * 1e0 / na) - SQRT(cb * 1e0 / nb))) AS BIGINT)
                AS hel_nano,
            CAST(ABS(ca * (SELECT nb FROM tot) - cb * (SELECT na FROM tot))
                 AS BIGINT) AS tv_scaled
        FROM c CROSS JOIN tot
    )
    SELECT (SELECT na FROM tot) AS n_tokens_en,
           (SELECT nb FROM tot) AS n_tokens_de,
           ROUND(SUM(js_nano) / 1e9, 6) AS js_divergence,
           ROUND(SQRT(SUM(hel_nano) / 2e9), 6) AS hellinger,
           ROUND(SUM(tv_scaled)
                 / (2e0 * (SELECT na FROM tot) * (SELECT nb FROM tot)), 6)
               AS total_variation
    FROM terms
    """,
)
def agg_divergence_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-divergence family between the English and German token
    distributions: Jensen-Shannon divergence (the symmetric, bounded KL —
    Lin 1991, public), Hellinger distance, and total variation. The
    standard trio for quantifying corpus-mixture shift; JS in particular
    is what data-mixture tuning reports.

    Determinism: per-token JS and Hellinger terms collapse to one
    rounded nano-int chain each (exact count inputs), so the cross-token
    sums are exact integer addition — no float-order hazard; TV is
    exactly |ca·nb − cb·na| summed in BIGINTs and divided once.

    Scale shape: one map-side-combined token count, a broadcast totals
    row, one aggregate over the (tiny) vocabulary."""
    toks = (
        table(spark, sf_dir, "documents")
        .where(F.col("lang").isin("en", "de"))
        .select("lang", F.explode(F.split("text", " ")).alias("tok"))
    )
    c = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).cast("long").alias("cb"),
    )
    tot = c.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    ct = c.crossJoin(F.broadcast(tot))
    pa = F.col("ca") * F.lit(1.0) / F.col("na")
    pb = F.col("cb") * F.lit(1.0) / F.col("nb")
    mm = 0.5 * pa + 0.5 * pb
    js_term = F.when(F.col("ca") > 0, 0.5 * pa * F.log(pa / mm)).otherwise(
        0.0
    ) + F.when(F.col("cb") > 0, 0.5 * pb * F.log(pb / mm)).otherwise(0.0)
    hel_term = (F.sqrt(pa) - F.sqrt(pb)) * (F.sqrt(pa) - F.sqrt(pb))
    terms = ct.select(
        F.round(1000000000 * js_term).cast("long").alias("js_nano"),
        F.round(1000000000 * hel_term).cast("long").alias("hel_nano"),
        F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
        .cast("long")
        .alias("tv_scaled"),
        "na",
        "nb",
    )
    return terms.groupBy("na", "nb").agg(
        F.round(F.sum("js_nano") / 1e9, 6).alias("js_divergence"),
        F.round(F.sqrt(F.sum("hel_nano") / 2e9), 6).alias("hellinger"),
        F.round(
            F.sum("tv_scaled") / (2.0 * F.col("na") * F.col("nb")), 6
        ).alias("total_variation"),
    ).select(
        F.col("na").alias("n_tokens_en"),
        F.col("nb").alias("n_tokens_de"),
        "js_divergence",
        "hellinger",
        "total_variation",
    )


_VOPT_K = 4  # histogram buckets


def _sse_sql(a: str, b: str) -> str:
    """SSE of the daily slice (a..b] from prefix-sum lists (1-indexed in
    DuckDB, so day i lives at list position i+1) — one identical double
    chain in both engines."""
    return (
        f"(CAST(q[{b} + 1] - q[{a} + 1] AS DOUBLE)"
        f" - CAST((s[{b} + 1] - s[{a} + 1]) * (s[{b} + 1] - s[{a} + 1])"
        f" AS DOUBLE) / ({b} - {a}))"
    )


@query(
    "events_voptimal_histogram",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    pre AS (
        SELECT [CAST(0 AS BIGINT)] || LIST(sx ORDER BY day) AS s,
               [CAST(0 AS BIGINT)] || LIST(qx ORDER BY day) AS q,
               CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT day,
                     SUM(x) OVER (ORDER BY day) AS sx,
                     SUM(x * x) OVER (ORDER BY day) AS qx
              FROM daily) t
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily
    ),
    lv1 AS (
        SELECT i, {_sse_sql("0", "i")} AS cost, 0 AS bp
        FROM pre, idx WHERE i >= 1
    ),
    lv2 AS (
        SELECT i, cost, bp FROM (
            SELECT v.i, p.cost + {_sse_sql("p.i", "v.i")} AS cost, p.i AS bp,
                   ROW_NUMBER() OVER (PARTITION BY v.i
                       ORDER BY p.cost + {_sse_sql("p.i", "v.i")}, p.i) AS rk
            FROM pre, idx v
            JOIN lv1 p ON p.i < v.i AND p.i >= 1
            WHERE v.i >= 2)
        WHERE rk = 1
    ),
    lv3 AS (
        SELECT i, cost, bp FROM (
            SELECT v.i, p.cost + {_sse_sql("p.i", "v.i")} AS cost, p.i AS bp,
                   ROW_NUMBER() OVER (PARTITION BY v.i
                       ORDER BY p.cost + {_sse_sql("p.i", "v.i")}, p.i) AS rk
            FROM pre, idx v
            JOIN lv2 p ON p.i < v.i AND p.i >= 2
            WHERE v.i >= 3)
        WHERE rk = 1
    ),
    lv4 AS (
        SELECT i, cost, bp FROM (
            SELECT v.i, p.cost + {_sse_sql("p.i", "v.i")} AS cost, p.i AS bp,
                   ROW_NUMBER() OVER (PARTITION BY v.i
                       ORDER BY p.cost + {_sse_sql("p.i", "v.i")}, p.i) AS rk
            FROM pre, idx v
            JOIN lv3 p ON p.i < v.i AND p.i >= 3
            WHERE v.i >= 4)
        WHERE rk = 1
    ),
    fin AS (SELECT l.i AS b4, l.cost, l.bp AS b3
            FROM lv4 l, pre WHERE l.i = pre.d)
    SELECT CAST(f.b3 AS BIGINT) AS cut3,
           CAST(l3.bp AS BIGINT) AS cut2,
           CAST(l2.bp AS BIGINT) AS cut1,
           ROUND(f.cost, 4) AS total_sse
    FROM fin f
    JOIN lv3 l3 ON l3.i = f.b3
    JOIN lv2 l2 ON l2.i = l3.bp
    """,
)
def events_voptimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal histogram construction (Jagadish, Koudas, Muthukrishnan,
    Poosala, Sevcik & Suel, VLDB 1998, public): partition the daily
    event-count series into 4 buckets minimizing total within-bucket
    SSE, by the classic DP — level k's best cost at day i = min over
    split j of level k−1's cost at j plus SSE(j+1..i) — with backtracked
    cut points. This is the histogram a query optimizer actually stores:
    error-optimal bucket boundaries, not equi-width guesses.

    Determinism: SSE terms assemble from exact integer prefix sums in
    one identical double chain; every argmin is row_number-ordered with
    a split-index tie-break, so both engines pick identical cuts.

    Scale shape: the heavy stream collapses to one daily aggregate; the
    O(k·d²) DP runs on the tiny daily frame (d≈30, k=4) — the
    aggregate-then-DP posture. At optimizer scale, d is the bucketed
    domain, still metadata-sized."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wd = Window.orderBy("day")
    pre = daily.select(
        F.row_number().over(wd).alias("i"),
        F.sum("x").over(wd).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wd).alias("q"),
    )
    zero = pre.sparkSession.createDataFrame([(0, 0, 0)], "i long, s long, q long")
    # materialize the tiny prefix frame once: every DP level references it
    # twice plus the previous level, so an untruncated lineage re-derives
    # the events scan ~3^k times (measured 54 s -> 2 s with the fence)
    pref = (
        pre.select(
            F.col("i").cast("long"), F.col("s").cast("long"), F.col("q").cast("long")
        )
        .unionByName(zero)
        .localCheckpoint(eager=True)
    )

    def sse(pa, va):
        return (
            (F.col(f"{va}.q") - F.col(f"{pa}.q")).cast("double")
            - ((F.col(f"{va}.s") - F.col(f"{pa}.s"))
               * (F.col(f"{va}.s") - F.col(f"{pa}.s"))).cast("double")
            / (F.col(f"{va}.i") - F.col(f"{pa}.i"))
        )

    p0 = pref.alias("p")
    v0 = pref.alias("v")
    # r11: max(i) over the checkpointed prefix frame (its extra i=0 row
    # cannot win the max) — the old pre.agg re-ran the events scan + both
    # unpartitioned windows a second time just to read the day count
    d_total = pref.agg(F.max("i").alias("d"))
    levels = {}
    lvk = (
        v0.join(p0, (F.col("p.i") == 0) & (F.col("v.i") >= 1))
        .select(F.col("v.i").alias("i"), sse("p", "v").alias("cost"),
                F.lit(0).cast("long").alias("bp"))
    )
    levels[1] = lvk
    for k in range(2, _VOPT_K + 1):
        prev = levels[k - 1].select(
            F.col("i").alias("pi"), F.col("cost").alias("pcost")
        ).alias("pp")
        pj = pref.alias("p")
        vj = pref.alias("v")
        cand = (
            vj.join(pj, F.col("p.i") < F.col("v.i"))
            .join(
                prev,
                (F.col("pp.pi") == F.col("p.i")) & (F.col("p.i") >= k - 1),
            )
            .where(F.col("v.i") >= k)
            .select(
                F.col("v.i").alias("i"),
                (F.col("pp.pcost") + sse("p", "v")).alias("cost"),
                F.col("p.i").cast("long").alias("bp"),
            )
        )
        wk = Window.partitionBy("i").orderBy("cost", "bp")
        levels[k] = (
            cand.withColumn("rk", F.row_number().over(wk))
            .where(F.col("rk") == 1)
            .select("i", "cost", "bp")
            .localCheckpoint(eager=True)
        )
    fin = levels[_VOPT_K].join(d_total, F.col("i") == F.col("d")).select(
        F.col("cost"), F.col("bp").alias("b3")
    )
    l3 = levels[3].select(F.col("i").alias("i3"), F.col("bp").alias("b2"))
    l2 = levels[2].select(F.col("i").alias("i2"), F.col("bp").alias("b1"))
    return (
        fin.join(l3, F.col("b3") == F.col("i3"))
        .join(l2, F.col("b2") == F.col("i2"))
        .select(
            F.col("b3").cast("long").alias("cut3"),
            F.col("b2").cast("long").alias("cut2"),
            F.col("b1").cast("long").alias("cut1"),
            F.round("cost", 4).alias("total_sse"),
        )
    )
