"""Wave-102: negative-binomial method-of-moments, L-moments via
rank-weighted sums, and the Ljung-Box portmanteau test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_negbin_mom",
    oracle="""
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS s,
               CAST(SUM(k * k) AS BIGINT) AS ss
        FROM counts
    ),
    stats AS (
        SELECT n,
               CAST(s AS DOUBLE) / n AS mu,
               (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n AS var
        FROM m
    )
    SELECT n AS n_users,
           ROUND(mu, 4) AS mean_purchases,
           ROUND(var, 4) AS var_purchases,
           ROUND(var / mu, 6) AS dispersion_ratio,
           CASE WHEN var <= mu THEN NULL
                ELSE ROUND(mu * mu / (var - mu), 6) END AS nb_r,
           CASE WHEN var <= mu THEN NULL
                ELSE ROUND(mu / var, 6) END AS nb_p
    FROM stats
    """,
)
def model_negbin_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit (the overdispersed count
    model, public) for per-user purchase counts: r = mu²/(var - mu),
    p = mu/var — the first question of count modeling ('is this Poisson
    or are users heterogeneous?') answered by the dispersion ratio
    var/mu, with NB parameters reported only when overdispersed (NULL
    otherwise, the honest answer).

    Determinism: count moments are exact BIGINTs; mu/var and the
    parameters are fixed double formulas rounded; the
    equidispersion guard is an exact comparison.

    Scale shape: one per-user groupBy + one scalar moment aggregate."""
    counts = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("k"))
    )
    m = counts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")) / F.col("n")
    return m.select(
        F.col("n").alias("n_users"),
        F.round(mu, 4).alias("mean_purchases"),
        F.round(var, 4).alias("var_purchases"),
        F.round(var / mu, 6).alias("dispersion_ratio"),
        F.when(var <= mu, F.lit(None).cast("double"))
        .otherwise(F.round(mu * mu / (var - mu), 6))
        .alias("nb_r"),
        F.when(var <= mu, F.lit(None).cast("double"))
        .otherwise(F.round(mu / var, 6))
        .alias("nb_p"),
    )


@query(
    "agg_l_moments",
    oracle="""
    WITH ranked AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS i,
               COUNT(*) OVER () AS n
        FROM orders
    ),
    sums AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS b0n,
               CAST(CAST(SUM(CAST(i - 1 AS HUGEINT) * x) AS HUGEINT) AS DOUBLE)
                   AS w1,
               CAST(CAST(SUM(CAST(i - 1 AS HUGEINT) * (i - 2) * x) AS HUGEINT)
                    AS DOUBLE) AS w2
        FROM ranked
    ),
    bs AS (
        SELECT n,
               CAST(b0n AS DOUBLE) / n AS b0,
               w1 / (CAST(n AS DOUBLE) * (n - 1)) AS b1,
               w2 / (CAST(n AS DOUBLE) * (n - 1) * (n - 2)) AS b2
        FROM sums
    )
    SELECT n,
           ROUND(b0 / 100, 4) AS l1_mean,
           ROUND((2 * b1 - b0) / 100, 4) AS l2_scale,
           ROUND((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6) AS l_skewness,
           ROUND((2 * b1 - b0) / b0, 6) AS l_cv
    FROM bs
    """,
)
def agg_l_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-moments (Hosking 1990, public) of order values: the
    order-statistics-based location/scale/shape summary — L-scale and
    the L-skewness ratio t3 = l3/l2 — that hydrology and insurance use
    instead of classical moments because every L-moment exists whenever
    the mean does and is far more outlier-robust. Computed through the
    probability-weighted moments b0, b1, b2 with exact rank weights
    (l2 = 2b1-b0, l3 = 6b2-6b1+b0).

    Determinism: ranks come from a total order (price, orderkey); the
    rank-weighted sums Σ(i-1)x and Σ(i-1)(i-2)x are exact wide
    integers (HUGEINT / DECIMAL(38,0) — they pass 2^63 at sf0.1) cast
    ONCE to double; ratios are fixed formulas rounded.

    Scale shape (r8 rework, VERDICT r7 item 4): collapse to distinct
    cents + counts FIRST; tied rows at x occupy ranks (below, upto], and
    the rank-weight sums over that range have exact closed forms
    (Σ(i-1) = S1 - k, Σ(i-1)(i-2) = S2 - 3·S1 + 2k with square/cube
    identities in decimal(38,0)) — EXACT integers either way, so the
    oracle's per-row rank form matches bit-for-bit while the global
    cumulative window's input is an Aggregate, never raw rows."""
    vals = (
        table(spark, sf_dir, "orders")
        .groupBy(F.round(F.col("o_totalprice") * 100).cast("long").alias("x"))
        .agg(F.count("*").cast("long").alias("k"))
    )
    wv = Window.orderBy("x")
    cum = vals.select(
        "x",
        "k",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
    )
    up = F.col("upto").cast("decimal(38,0)")
    lo = F.col("below").cast("decimal(38,0)")
    s1 = (up * (F.col("upto") + 1) - lo * (F.col("below") + 1)) / 2
    s2 = (
        up * (F.col("upto") + 1) * (2 * F.col("upto") + 1)
        - lo * (F.col("below") + 1) * (2 * F.col("below") + 1)
    ) / 6
    sums = cum.agg(
        F.sum("k").cast("long").alias("n"),
        F.sum(F.col("k") * F.col("x")).cast("long").alias("b0n"),
        F.sum((s1 - F.col("k")) * F.col("x")).cast("double").alias("w1"),
        F.sum((s2 - 3 * s1 + 2 * F.col("k")) * F.col("x"))
        .cast("double")
        .alias("w2"),
    )
    b0 = F.col("b0n").cast("double") / F.col("n")
    b1 = F.col("w1") / (F.col("n").cast("double") * (F.col("n") - 1))
    b2 = F.col("w2") / (F.col("n").cast("double") * (F.col("n") - 1) * (F.col("n") - 2))
    l2 = 2 * b1 - b0
    return sums.select(
        "n",
        F.round(b0 / 100, 4).alias("l1_mean"),
        F.round(l2 / 100, 4).alias("l2_scale"),
        F.round((6 * b2 - 6 * b1 + b0) / l2, 6).alias("l_skewness"),
        F.round(l2 / b0, 6).alias("l_cv"),
    )


def _ljung_oracle() -> str:
    lag_sums = ",\n               ".join(
        f"(SELECT CAST(SUM(a.dev * b.dev) AS BIGINT) FROM idx a "
        f"JOIN idx b ON b.i = a.i - {k}) AS c{k}"
        for k in range(1, 8)
    )
    q_terms = " + ".join(
        f"(CAST(c{k} AS DOUBLE) / c0) * (CAST(c{k} AS DOUBLE) / c0) / (nd - {k})"
        for k in range(1, 8)
    )
    return f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(x) AS BIGINT) AS total
            FROM daily),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, nd * x - total AS dev
        FROM daily, tot
    ),
    moments AS (
        SELECT (SELECT CAST(SUM(dev * dev) AS BIGINT) FROM idx) AS c0,
               {lag_sums},
               (SELECT MAX(nd) FROM tot) AS nd
    )
    SELECT nd AS n_days,
           ROUND(nd * (nd + 2.0) * ({q_terms}), 6) AS ljung_box_q,
           nd * (nd + 2.0) * ({q_terms}) > 14.067140 AS reject_whiteness
    FROM moments
    """


@query("agg_ljung_box", oracle=_ljung_oracle())
def agg_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (1978, public) on the daily
    event-count series: Q = n(n+2) Σ_{k=1..7} r_k²/(n-k) against the
    chi2(7) 95th percentile (literal 14.067140) — the standard 'is
    anything left in the residuals' whiteness test that closes the
    time-series diagnostics family (ACF, runs test, AR fits). A reject
    here on raw counts is EXPECTED (daily traffic autocorrelates);
    the operator's production seat is post-model residual checking.

    Determinism: deviations are exact integers (n·x - total), every
    lag cross-product sums in BIGINT via offset self-joins, and Q is
    one FIXED-ORDER 7-term expression over the exact c_k/c0 ratios —
    never a float sum across an unordered lag group; display rounds
    6dp.

    Scale shape: groupBy-to-days then 7 constant-width offset joins on
    the day index — per-series work, partitioned by metric key at
    100 TB."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("nd"), F.sum("x").cast("long").alias("total")
    )
    idx = daily.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(Window.orderBy("day")).alias("i"),
        (F.col("nd") * F.col("x") - F.col("total")).alias("dev"),
        "nd",
    )
    c0 = idx.agg(F.sum(F.col("dev") * F.col("dev")).cast("long").alias("c0"))
    a = idx.select(F.col("i").alias("ia"), F.col("dev").alias("da"))
    b = idx.select(F.col("i").alias("ib"), F.col("dev").alias("db"))
    lags = c0.crossJoin(F.broadcast(tot.select("nd")))
    for k in range(1, 8):
        ck = (
            a.join(b, F.col("ib") == F.col("ia") - k)
            .agg(F.sum(F.col("da") * F.col("db")).cast("long").alias(f"c{k}"))
        )
        lags = lags.crossJoin(F.broadcast(ck))
    q = None
    for k in range(1, 8):
        term = (F.col(f"c{k}").cast("double") / F.col("c0")) * (
            F.col(f"c{k}").cast("double") / F.col("c0")
        ) / (F.col("nd") - k)
        q = term if q is None else q + term
    stat = F.col("nd") * (F.col("nd") + 2.0) * q
    return lags.select(
        F.col("nd").alias("n_days"),
        F.round(stat, 6).alias("ljung_box_q"),
        (stat > 14.067140).alias("reject_whiteness"),
    )
