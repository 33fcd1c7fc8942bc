"""Wave-99: two histogram-GBM boosting rounds, restricted mean
survival time, and language-balance temperature weighting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_KM_K = 10


@query(
    "model_gbm_two_rounds",
    oracle="""
    WITH x0 AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    anchor AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) // COUNT(*) AS BIGINT) AS m0
        FROM x0
    ),
    x AS (SELECT q, d, y - m0 AS z FROM x0, anchor),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(z) AS BIGINT) AS sz,
               CAST(CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS DOUBLE)
                   AS szz,
               MAX(m0d) AS m0
        FROM (SELECT z, (SELECT m0 FROM anchor) AS m0d FROM x)
    ),
    per_q AS (
        SELECT q, CAST(COUNT(*) AS BIGINT) AS nq, CAST(SUM(z) AS BIGINT) AS sq
        FROM x GROUP BY q
    ),
    cum_q AS (
        SELECT q,
               SUM(nq) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS nl,
               SUM(sq) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sl
        FROM per_q
    ),
    stump1 AS (
        SELECT q AS t1, nl, sl, n - nl AS nr, sz - sl AS sr
        FROM cum_q, tot WHERE nl < n
        ORDER BY CAST(sl AS DOUBLE) * sl / nl
                 + CAST(sz - sl AS DOUBLE) * (sz - sl) / (n - nl) DESC, q
        LIMIT 1
    ),
    cells AS (
        SELECT x.d, x.q <= s.t1 AS left1,
               CAST(COUNT(*) AS BIGINT) AS nc, CAST(SUM(x.z) AS BIGINT) AS sc
        FROM x, stump1 s GROUP BY x.d, left1
    ),
    cum_d AS (
        SELECT d,
               SUM(CASE WHEN left1 THEN nc ELSE 0 END)
                   OVER (ORDER BY d RANGE BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS nll,
               SUM(CASE WHEN left1 THEN sc ELSE 0 END)
                   OVER (ORDER BY d RANGE BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS sll,
               SUM(CASE WHEN NOT left1 THEN nc ELSE 0 END)
                   OVER (ORDER BY d RANGE BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS nlr,
               SUM(CASE WHEN NOT left1 THEN sc ELSE 0 END)
                   OVER (ORDER BY d RANGE BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS slr
        FROM cells
    ),
    dcum AS (SELECT DISTINCT * FROM cum_d),
    stump2 AS (
        SELECT d AS t2,
               (sll - nll * (CAST(s.sl AS DOUBLE) / s.nl))
               + (slr - nlr * (CAST(s.sr AS DOUBLE) / s.nr)) AS srl2,
               nll + nlr AS nl2
        FROM dcum, stump1 s, tot
        WHERE nll + nlr > 0 AND nll + nlr < n
        ORDER BY (
            ((sll - nll * (CAST(s.sl AS DOUBLE) / s.nl))
             + (slr - nlr * (CAST(s.sr AS DOUBLE) / s.nr)))
            * ((sll - nll * (CAST(s.sl AS DOUBLE) / s.nl))
               + (slr - nlr * (CAST(s.sr AS DOUBLE) / s.nr)))
            / (nll + nlr)
            + (0.0 - ((sll - nll * (CAST(s.sl AS DOUBLE) / s.nl))
                      + (slr - nlr * (CAST(s.sr AS DOUBLE) / s.nr))))
              * (0.0 - ((sll - nll * (CAST(s.sl AS DOUBLE) / s.nl))
                        + (slr - nlr * (CAST(s.sr AS DOUBLE) / s.nr))))
              / (n - nll - nlr)
        ) DESC, d
        LIMIT 1
    )
    SELECT s.t1, st2.t2,
           ROUND((t.m0 + CAST(s.sl AS DOUBLE) / s.nl) / 100, 4) AS mean_left1,
           ROUND((t.m0 + CAST(s.sr AS DOUBLE) / s.nr) / 100, 4) AS mean_right1,
           ROUND((t.szz - CAST(t.sz AS DOUBLE) * t.sz / t.n) / 1e10, 6)
               AS sse0_e10,
           ROUND((t.szz - CAST(s.sl AS DOUBLE) * s.sl / s.nl
                  - CAST(s.sr AS DOUBLE) * s.sr / s.nr) / 1e10, 6) AS sse1_e10,
           ROUND((t.szz - CAST(s.sl AS DOUBLE) * s.sl / s.nl
                  - CAST(s.sr AS DOUBLE) * s.sr / s.nr
                  - st2.srl2 * st2.srl2 / st2.nl2
                  - (0.0 - st2.srl2) * (0.0 - st2.srl2) / (t.n - st2.nl2))
                 / 1e10, 6) AS sse2_e10
    FROM stump1 s, stump2 st2, tot t
    """,
)
def model_gbm_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of gradient boosting with regression stumps (squared
    loss, learning rate 1 — Friedman 2001, public), in exactly the
    histogram form distributed GBM engines use: round 1 finds the best
    quantity split for extended price by cumulative-histogram sweep;
    round 2 fits a discount-split stump to the RESIDUALS — whose
    sufficient statistics come from the (discount, side) cell grid by
    pure integer algebra (sum of residuals over any cell union =
    sum(z) - n·side-mean), so the residual pass never materializes
    per-row residuals. Reports both splits and the SSE ladder
    (before / after round 1 / after round 2, in 1e10 cent² units).

    Determinism: the target is CENTERED by the integer floor-mean m0
    before any moment is taken, so sum(z²) ≈ SSE itself and the SSE
    subtractions cancel <0.1% — without centering, syy - explained
    cancels ~4 digits and amplifies single-ulp engine differences past
    the 6dp display (the sf0.1 near-miss that motivated this shape).
    All counts and centered sums are exact integers (z² sums in
    HUGEINT/DECIMAL(38,0), cast once); scores and SSEs are fixed
    double formulas; argmaxes tie-break on the threshold.

    Scale shape: two map-side-combined histogram aggregates (50 and
    11x2 cells), windows over those cells, two top-1s — per-round cost
    is one pass, the real GBM layout."""
    x0 = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    anchor = x0.agg(
        F.count("*").cast("long").alias("n0"),
        F.expr("sum(y) div count(*)").cast("long").alias("m0"),
    )
    x = x0.crossJoin(F.broadcast(anchor)).select(
        "q", "d", (F.col("y") - F.col("m0")).alias("z"), "m0"
    )
    tot = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).cast("double").alias("szz"),
        F.max("m0").alias("m0"),
    )
    per_q = x.groupBy("q").agg(
        F.count("*").cast("long").alias("nq"), F.sum("z").cast("long").alias("sq")
    )
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    cum_q = per_q.select(
        "q", F.sum("nq").over(wq).alias("nl"), F.sum("sq").over(wq).alias("sl")
    )
    score1 = (
        F.col("sl").cast("double") * F.col("sl") / F.col("nl")
        + (F.col("sz") - F.col("sl")).cast("double")
        * (F.col("sz") - F.col("sl"))
        / (F.col("n") - F.col("nl"))
    )
    stump1 = (
        cum_q.crossJoin(F.broadcast(tot.select("n", "sz")))
        .where(F.col("nl") < F.col("n"))
        .orderBy(score1.desc(), F.asc("q"))
        .limit(1)
        .select(
            F.col("q").alias("t1"),
            "nl",
            "sl",
            (F.col("n") - F.col("nl")).alias("nr"),
            (F.col("sz") - F.col("sl")).alias("sr"),
        )
    )
    cells = (
        x.crossJoin(F.broadcast(stump1))
        .groupBy("d", (F.col("q") <= F.col("t1")).alias("left1"))
        .agg(F.count("*").cast("long").alias("nc"), F.sum("z").cast("long").alias("sc"))
    )
    wd = Window.orderBy("d").rangeBetween(Window.unboundedPreceding, 0)
    cum_d = cells.select(
        "d",
        F.sum(F.when(F.col("left1"), F.col("nc")).otherwise(0)).over(wd).alias("nll"),
        F.sum(F.when(F.col("left1"), F.col("sc")).otherwise(0)).over(wd).alias("sll"),
        F.sum(F.when(~F.col("left1"), F.col("nc")).otherwise(0)).over(wd).alias("nlr"),
        F.sum(F.when(~F.col("left1"), F.col("sc")).otherwise(0)).over(wd).alias("slr"),
    ).distinct()
    j = cum_d.crossJoin(F.broadcast(stump1)).crossJoin(
        F.broadcast(tot.select("n"))
    )
    mu_l = F.col("sl").cast("double") / F.col("nl")
    mu_r = F.col("sr").cast("double") / F.col("nr")
    srl2 = (F.col("sll") - F.col("nll") * mu_l) + (F.col("slr") - F.col("nlr") * mu_r)
    nl2 = F.col("nll") + F.col("nlr")
    score2 = srl2 * srl2 / nl2 + (0.0 - srl2) * (0.0 - srl2) / (F.col("n") - nl2)
    stump2 = (
        j.where((nl2 > 0) & (nl2 < F.col("n")))
        .orderBy(score2.desc(), F.asc("d"))
        .limit(1)
        .select(F.col("d").alias("t2"), srl2.alias("srl2"), nl2.alias("nl2"))
    )
    sse0 = F.col("szz") - F.col("sz").cast("double") * F.col("sz") / F.col("n")
    sse1 = (
        F.col("szz")
        - F.col("sl").cast("double") * F.col("sl") / F.col("nl")
        - F.col("sr").cast("double") * F.col("sr") / F.col("nr")
    )
    sse2 = sse1 - F.col("srl2") * F.col("srl2") / F.col("nl2") - (
        0.0 - F.col("srl2")
    ) * (0.0 - F.col("srl2")) / (F.col("n") - F.col("nl2"))
    return (
        stump1.crossJoin(F.broadcast(stump2))
        .crossJoin(F.broadcast(tot))
        .select(
            "t1",
            "t2",
            F.round((F.col("m0") + F.col("sl").cast("double") / F.col("nl")) / 100, 4).alias(
                "mean_left1"
            ),
            F.round((F.col("m0") + F.col("sr").cast("double") / F.col("nr")) / 100, 4).alias(
                "mean_right1"
            ),
            F.round(sse0 / 1e10, 6).alias("sse0_e10"),
            F.round(sse1 / 1e10, 6).alias("sse1_e10"),
            F.round(sse2 / 1e10, 6).alias("sse2_e10"),
        )
    )


def _rmst_oracle() -> str:
    dcols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN NOT censored AND t = {k} THEN 1 ELSE 0 END) AS BIGINT) AS d_{k}, "
        f"CAST(SUM(CASE WHEN t >= {k} THEN 1 ELSE 0 END) AS BIGINT) AS r_{k}"
        for k in range(1, _KM_K + 1)
    )
    s_chain = ["CASE WHEN r_1 = 0 THEN 1.0 ELSE 1.0 - CAST(d_1 AS DOUBLE) / r_1 END AS s_1"]
    for k in range(2, _KM_K + 1):
        s_chain.append(
            f"s_{k - 1} * (CASE WHEN r_{k} = 0 THEN 1.0 "
            f"ELSE 1.0 - CAST(d_{k} AS DOUBLE) / r_{k} END) AS s_{k}"
        )
    chain = ",\n               ".join(s_chain)
    rmst = "1.0 + " + " + ".join(f"s_{k}" for k in range(1, _KM_K))
    return f"""
    WITH bounds AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
    users AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS dlast
        FROM events GROUP BY user_id
    ),
    times AS (
        SELECT CASE WHEN DATEDIFF('day', dlast, dmax) <= 3
                    THEN DATEDIFF('day', d0, dmax)
                    ELSE DATEDIFF('day', d0, dlast) + 1 END AS t,
               DATEDIFF('day', dlast, dmax) <= 3 AS censored
        FROM users, bounds
    ),
    pivoted AS (SELECT {dcols} FROM times),
    s AS (SELECT *, {chain} FROM pivoted)
    SELECT CAST(r_1 AS BIGINT) AS n_users,
           ROUND(s_{_KM_K}, 6) AS survival_at_10,
           ROUND({rmst}, 6) AS rmst_10d
    FROM s
    """


@query("events_rmst", oracle=_rmst_oracle())
def events_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar 2013 canon,
    public) over the first 10 days of user lifetime: the area under the
    Kaplan-Meier curve, RMST = sum of S(k) day-steps — the
    'average days retained (capped at 10)' number product teams quote,
    derived from the same censored estimator as events_kaplan_meier
    (whose fixed-order product chain this op extends with a fixed-order
    SUM of the curve).

    Determinism: identical unrolled d/r pivot and product chain as the
    KM op; the RMST sum is a literal fixed-order expression; 6dp
    display rounding.

    Scale shape: one per-user groupBy + one 2K-integer pivot; constant
    arithmetic after."""
    bounds = table(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("date")).alias("dmax")
    )
    users = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("d0"),
            F.max(F.col("ts").cast("date")).alias("dlast"),
        )
    )
    times = users.crossJoin(F.broadcast(bounds)).select(
        F.when(F.datediff("dmax", "dlast") <= 3, F.datediff("dmax", "d0"))
        .otherwise(F.datediff("dlast", "d0") + 1)
        .alias("t"),
        (F.datediff("dmax", "dlast") <= 3).alias("censored"),
    )
    aggs = []
    for k in range(1, _KM_K + 1):
        aggs.append(
            F.sum(F.when((~F.col("censored")) & (F.col("t") == k), 1).otherwise(0))
            .cast("long")
            .alias(f"d_{k}")
        )
        aggs.append(
            F.sum(F.when(F.col("t") >= k, 1).otherwise(0)).cast("long").alias(f"r_{k}")
        )
    s = times.agg(*aggs)
    for k in range(1, _KM_K + 1):
        term = F.when(F.col(f"r_{k}") == 0, F.lit(1.0)).otherwise(
            1.0 - F.col(f"d_{k}").cast("double") / F.col(f"r_{k}")
        )
        expr = term if k == 1 else F.col(f"s_{k - 1}") * term
        s = s.withColumn(f"s_{k}", expr)
    rmst = sum(
        [F.col(f"s_{k}") for k in range(1, _KM_K)], start=F.lit(1.0)
    )
    return s.select(
        F.col("r_1").cast("long").alias("n_users"),
        F.round(F.col(f"s_{_KM_K}"), 6).alias("survival_at_10"),
        F.round(rmst, 6).alias("rmst_10d"),
    )


@query(
    "pipeline_lang_balance",
    oracle="""
    WITH per AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS nd,
               LIST_REDUCE(LIST(SQRT(n_docs) ORDER BY lang), (a, b) -> a + b)
                   AS wsum
        FROM per
    )
    SELECT lang, n_docs, n_tokens,
           ROUND(n_docs * 1.0 / nd, 6) AS raw_share,
           ROUND(SQRT(n_docs) / wsum, 6) AS temp_share,
           ROUND((SQRT(n_docs) / wsum) * nd / n_docs, 4) AS sampling_factor
    FROM per, tot
    ORDER BY lang
    """,
)
def pipeline_lang_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balance report with temperature-based re-weighting
    (tau = 1/2, the multilingual sampling rule of mBERT/XLM-R, public):
    per language, raw document/token shares, the temperature share
    p_i^tau / sum p_j^tau, and the implied up/down-sampling factor —
    the knob that keeps low-resource languages represented without
    letting the head language drown the mixture. tau = 1/2 makes the
    reweighting an exact SQRT.

    Determinism: counts are exact; the temperature normalizer is an
    ORDERED sequential fold over languages (Spark sort_array+aggregate,
    DuckDB LIST(... ORDER BY)+list_reduce — the Holt pattern), so the
    handful-of-doubles sum has identical association order in both
    engines; display rounds.

    Scale shape: one map-side-combined groupBy per language; the fold
    runs over |languages| values."""
    per = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("nd"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "n_docs"))),
                lambda x: F.sqrt(x.n_docs.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("wsum"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("nd"), 6).alias("raw_share"),
            F.round(F.sqrt(F.col("n_docs").cast("double")) / F.col("wsum"), 6).alias("temp_share"),
            F.round(
                F.sqrt(F.col("n_docs").cast("double")) / F.col("wsum") * F.col("nd") / F.col("n_docs"),
                4,
            ).alias("sampling_factor"),
        )
        .orderBy("lang")
    )
