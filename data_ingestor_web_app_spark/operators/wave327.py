"""Wave-327: the finance/risk shelf on the daily value series —
historical VaR/CVaR, Sharpe/Sortino/Calmar, a truncated-FIR MACD,
per-day VWAP vs TWAP, and the CAPM beta/alpha regression. All public
textbook quantities (Markowitz/Sharpe 1966, Sortino 1994, RiskMetrics
1996, Appel's MACD, Jensen 1968) over the calendar-bounded 30-day
daily frame: integer milli-sums make the daily means exact rationals,
and every derived float is a fixed expression chain rounded 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Shared daily frame: d, n (events), s (exact centi-sum), m = s/100/n.
_DAILY_SQL = """
    daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
        FROM events
        GROUP BY 1
    ),
    px AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn,
               CAST(s AS DOUBLE) / 100.0 / n AS m
        FROM daily
    ),
    ret AS (
        SELECT d, rn, r FROM (
            SELECT d, rn, m / LAG(m) OVER (ORDER BY d) - 1.0 AS r
            FROM px
        ) WHERE rn > 1
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily price frame (one row per calendar day — bounded by the
    30-day fixture window; at 100 TB the frame is still
    days-of-history sized, so the global window after it is safe)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("s"),
        )
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
        .withColumn("m", F.col("s").cast("double") / 100.0 / F.col("n"))
    )


def _returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.orderBy("d")
    return (
        _daily(spark, sf_dir)
        .select("d", "rn", (F.col("m") / F.lag("m").over(w) - 1.0).alias("r"))
        .where(F.col("rn") > 1)
    )


@query(
    "events_var_cvar",
    oracle=f"""
    WITH {_DAILY_SQL},
    ranked AS (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, d) AS k
        FROM ret
    ),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ret,
                    CAST(CEIL(0.05 * COUNT(*)) AS BIGINT) AS k_tail
             FROM ret)
    SELECT n_ret, k_tail,
           ROUND(-(SELECT r FROM ranked WHERE k = base.k_tail), 6) AS var_95,
           ROUND(-(SELECT SUM(r) FROM ranked WHERE k <= base.k_tail)
                 / k_tail, 6) AS cvar_95
    FROM base
    """,
)
def events_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-simulation Value-at-Risk and Conditional VaR
    (expected shortfall) at 95% on the daily return series
    (RiskMetrics 1996 / Artzner et al. 1999 coherent-risk ES — both
    public). k = ceil(0.05 n) worst returns; VaR is the k-th order
    statistic negated, CVaR the mean of the k-tail. Ties on equal
    returns break by date, so the k-set is a total order.

    Determinism: returns are fixed chains over exact integer daily
    sums; the k-tail mean divides an ordered 2-term sum; rounded 6dp.

    Scale shape: one daily aggregate (partial+final), then order
    statistics on a days-of-history frame — driver-size, not
    corpus-size."""
    ret = _returns(spark, sf_dir)
    ranked = ret.select(
        "r", F.row_number().over(Window.orderBy("r", "d")).alias("k")
    )
    base = ret.agg(
        F.count("*").cast("long").alias("n_ret"),
        F.ceil(0.05 * F.count("*")).cast("long").alias("k_tail"),
    )
    tail = (
        ranked.join(F.broadcast(base), ranked.k <= base.k_tail)
        .groupBy("n_ret", "k_tail")
        .agg(
            F.max(F.when(F.col("k") == F.col("k_tail"), F.col("r"))).alias(
                "r_k"
            ),
            F.sum("r").alias("s_tail"),
        )
    )
    return tail.select(
        "n_ret",
        "k_tail",
        F.round(-F.col("r_k"), 6).alias("var_95"),
        F.round(-F.col("s_tail") / F.col("k_tail"), 6).alias("cvar_95"),
    )


@query(
    "events_sharpe_sortino",
    oracle=f"""
    WITH {_DAILY_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_ret,
               AVG(r) AS mu,
               SUM(r * r) AS s2,
               SUM(CASE WHEN r < 0 THEN r * r ELSE 0.0 END) AS sd2
        FROM ret
    ),
    dd AS (
        SELECT MAX((cm - m) / cm) AS maxdd FROM (
            SELECT m, MAX(m) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
            FROM px
        )
    )
    SELECT n_ret,
           ROUND(mu, 6) AS mean_daily_ret,
           ROUND(SQRT((s2 - n_ret * mu * mu) / (n_ret - 1)), 6)
               AS sd_daily_ret,
           ROUND(mu / SQRT((s2 - n_ret * mu * mu) / (n_ret - 1))
                 * SQRT(365.0), 6) AS sharpe_ann,
           ROUND(mu / SQRT(sd2 / n_ret) * SQRT(365.0), 6) AS sortino_ann,
           ROUND(maxdd, 6) AS max_drawdown,
           ROUND(mu * 365.0 / maxdd, 6) AS calmar
    FROM mom, dd
    """,
)
def events_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe ratio (Sharpe 1966), Sortino ratio (Sortino &
    Price 1994 — downside deviation below a zero target), and Calmar
    ratio (Young 1991 — arithmetic-annualized mean return over maximum
    drawdown of the daily price level), all on the daily mean-value
    series with a zero risk-free rate.

    Determinism: moments are sums of ~29 fixed-chain doubles of
    magnitude ~1e-2 (absolute error ~1e-17 against the 6dp rounding);
    the drawdown running max is order-exact.

    Scale shape: daily partial+final aggregate, then one-row math on a
    days-of-history frame."""
    px = _daily(spark, sf_dir)
    ret = _returns(spark, sf_dir)
    mom = ret.agg(
        F.count("*").cast("long").alias("n_ret"),
        F.avg("r").alias("mu"),
        F.sum(F.col("r") * F.col("r")).alias("s2"),
        F.sum(
            F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0)
        ).alias("sd2"),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = (
        px.select("m", F.max("m").over(wcum).alias("cm"))
        .agg(F.max((F.col("cm") - F.col("m")) / F.col("cm")).alias("maxdd"))
    )
    n, mu = F.col("n_ret"), F.col("mu")
    sd = F.sqrt((F.col("s2") - n * mu * mu) / (n - 1))
    dsd = F.sqrt(F.col("sd2") / n)
    return mom.crossJoin(F.broadcast(dd)).select(
        "n_ret",
        F.round(mu, 6).alias("mean_daily_ret"),
        F.round(sd, 6).alias("sd_daily_ret"),
        F.round(mu / sd * F.sqrt(F.lit(365.0)), 6).alias("sharpe_ann"),
        F.round(mu / dsd * F.sqrt(F.lit(365.0)), 6).alias("sortino_ann"),
        F.round(F.col("maxdd"), 6).alias("max_drawdown"),
        F.round(mu * 365.0 / F.col("maxdd"), 6).alias("calmar"),
    )


def _fir_weights(span: int, taps: int) -> list[float]:
    """Truncated EMA-as-FIR weights w_k = a(1-a)^k, a = 2/(span+1).
    Computed ONCE here; the exact same doubles are embedded as
    literals in both the Spark plan and the oracle SQL, so the two
    engines evaluate identical fixed chains."""
    a = 2.0 / (span + 1.0)
    return [a * (1.0 - a) ** k for k in range(taps)]


_FAST = _fir_weights(12, 10)
_SLOW = _fir_weights(26, 10)
_SIG = _fir_weights(9, 6)


def _fir_sql(col: str, weights: list[float]) -> str:
    terms = [f"{weights[0]!r} * {col}"]
    terms += [
        f"{w!r} * LAG({col}, {k}, 0.0) OVER w"
        for k, w in enumerate(weights[1:], start=1)
    ]
    return "(" + " + ".join(terms) + ")"


def _fir_col(col: str, weights: list[float], w: Window) -> F.Column:
    acc = F.lit(weights[0]) * F.col(col)
    for k, wk in enumerate(weights[1:], start=1):
        acc = acc + F.lit(wk) * F.lag(col, k, 0.0).over(w)
    return acc


@query(
    "events_macd_signal",
    oracle=f"""
    WITH {_DAILY_SQL},
    macd AS (
        SELECT d, rn,
               {_fir_sql('m', _FAST)} - {_fir_sql('m', _SLOW)} AS macd
        FROM px
        WINDOW w AS (ORDER BY d)
    ),
    sig AS (
        SELECT d, rn, macd, {_fir_sql('macd', _SIG)} AS signal
        FROM macd
        WINDOW w AS (ORDER BY d)
    )
    SELECT STRFTIME(d, '%Y-%m-%d') AS d,
           ROUND(macd, 6) AS macd,
           ROUND(signal, 6) AS signal,
           ROUND(macd - signal, 6) AS histogram,
           CASE WHEN macd > signal THEN 1 ELSE 0 END AS bullish
    FROM sig
    WHERE rn >= 16
    ORDER BY d
    """,
)
def events_macd_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (Appel, 1979 — public) on the daily mean-value series,
    with the 12/26 EMA pair and 9-day signal line expressed as
    truncated zero-padded FIR filters (10/10/6 taps). The FIR weights
    a(1-a)^k are computed once in Python and embedded as identical
    double literals in both engines, and each filter is an explicit
    left-to-right lag chain — the accumulation order is fixed, so the
    chains are bit-reproducible (same trick as win_ewma's 8-tap FIR).
    Output restricted to days >= 16 so every tap is inside the frame.

    Determinism: daily means are exact rationals; every filter is a
    fixed literal-weighted chain; rounded 6dp.

    Scale shape: after the daily aggregate the three windows share ONE
    sort of a days-of-history frame (driver-size)."""
    w = Window.orderBy("d")
    px = _daily(spark, sf_dir)
    macd = px.select(
        "d",
        "rn",
        (_fir_col("m", _FAST, w) - _fir_col("m", _SLOW, w)).alias("macd"),
    )
    sig = macd.select(
        "d", "rn", "macd", _fir_col("macd", _SIG, w).alias("signal")
    )
    return (
        sig.where(F.col("rn") >= 16)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.round("macd", 6).alias("macd"),
            F.round("signal", 6).alias("signal"),
            F.round(F.col("macd") - F.col("signal"), 6).alias("histogram"),
            F.when(F.col("macd") > F.col("signal"), 1)
            .otherwise(0)
            .alias("bullish"),
        )
        .orderBy("d")
    )


@query(
    "events_vwap_twap",
    oracle="""
    SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS d,
           CAST(SUM(v) AS BIGINT) AS volume,
           ROUND(CAST(SUM(p * v) AS DOUBLE) / SUM(v) / 100.0, 6) AS vwap,
           ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*) / 100.0, 6) AS twap,
           ROUND((CAST(SUM(p * v) AS DOUBLE) / SUM(v)
                  - CAST(SUM(p) AS DOUBLE) / COUNT(*))
                 / (CAST(SUM(p) AS DOUBLE) / COUNT(*)), 6) AS vwap_premium
    FROM (
        SELECT ts, CAST(ROUND(value * 100) AS BIGINT) AS p,
               1 + event_id % 5 AS v
        FROM events
    )
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_vwap_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day VWAP vs TWAP (Berkowitz, Logue & Noser 1988 — the
    classic execution benchmark, public) with value as the price and a
    deterministic pseudo-volume 1 + event_id % 5 (the fixture has no
    size column). vwap_premium is the relative deviation of the
    volume-weighted from the time-weighted average — the standard
    execution-quality signal.

    Determinism: price centi-units and volumes are exact integers, so
    every sum is exact and each output is a single division chain
    rounded 6dp.

    Scale shape: one partial+final aggregate keyed by day."""
    u = table(spark, sf_dir, "events").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("p"),
        (1 + F.col("event_id") % 5).alias("v"),
    )
    g = u.groupBy("d").agg(
        F.sum("v").cast("long").alias("volume"),
        F.sum(F.col("p") * F.col("v")).alias("spv"),
        F.sum("p").alias("sp"),
        F.count("*").alias("n"),
    )
    vwap = F.col("spv").cast("double") / F.col("volume")
    twap = F.col("sp").cast("double") / F.col("n")
    return g.select(
        "d",
        "volume",
        F.round(vwap / 100.0, 6).alias("vwap"),
        F.round(twap / 100.0, 6).alias("twap"),
        F.round((vwap - twap) / twap, 6).alias("vwap_premium"),
    ).orderBy("d")


@query(
    "agg_capm_beta",
    oracle=f"""
    WITH {_DAILY_SQL},
    asset AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS ma
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    pair AS (
        SELECT ra, rm FROM (
            SELECT px.d,
                   asset.ma / LAG(asset.ma) OVER (ORDER BY px.d) - 1.0 AS ra,
                   px.m / LAG(px.m) OVER (ORDER BY px.d) - 1.0 AS rm
            FROM px JOIN asset ON px.d = asset.d
        ) WHERE ra IS NOT NULL AND rm IS NOT NULL
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_ret,
               AVG(ra) AS mua, AVG(rm) AS mum,
               SUM(ra * rm) AS sam, SUM(rm * rm) AS smm,
               SUM(ra * ra) AS saa
        FROM pair
    )
    SELECT n_ret,
           ROUND((sam - n_ret * mua * mum) / (smm - n_ret * mum * mum), 6)
               AS beta,
           ROUND(mua - (sam - n_ret * mua * mum)
                       / (smm - n_ret * mum * mum) * mum, 6) AS alpha,
           ROUND((sam - n_ret * mua * mum)
                 / SQRT((smm - n_ret * mum * mum)
                        * (saa - n_ret * mua * mua)), 6) AS corr_r
    FROM mom
    """,
)
def agg_capm_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM market-model regression (Sharpe 1964 / Jensen 1968 —
    public): the 'asset' is the purchase-events daily mean value, the
    'market' is the all-events daily mean; beta = cov(ra,rm)/var(rm),
    Jensen's alpha = mua - beta*mum, and the return correlation. Days
    are joined before differencing, so a missing asset day collapses
    identically in both engines.

    Determinism: daily means are exact rationals; moments are ~29-term
    sums of ~1e-2 doubles against 6dp rounding; fixed closing chains.

    Scale shape: two daily aggregates joined on the day key (both
    days-of-history sized), then one-row math."""
    px = _daily(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    asset = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
                / F.count("*")
            ).alias("ma")
        )
    )
    w = Window.orderBy("d")
    pair = (
        px.join(asset, "d")
        .select(
            "d",
            (F.col("ma") / F.lag("ma").over(w) - 1.0).alias("ra"),
            (F.col("m") / F.lag("m").over(w) - 1.0).alias("rm"),
        )
        .where(F.col("ra").isNotNull() & F.col("rm").isNotNull())
    )
    mom = pair.agg(
        F.count("*").cast("long").alias("n_ret"),
        F.avg("ra").alias("mua"),
        F.avg("rm").alias("mum"),
        F.sum(F.col("ra") * F.col("rm")).alias("sam"),
        F.sum(F.col("rm") * F.col("rm")).alias("smm"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
    )
    n = F.col("n_ret")
    cov = F.col("sam") - n * F.col("mua") * F.col("mum")
    varm = F.col("smm") - n * F.col("mum") * F.col("mum")
    vara = F.col("saa") - n * F.col("mua") * F.col("mua")
    return mom.select(
        "n_ret",
        F.round(cov / varm, 6).alias("beta"),
        F.round(F.col("mua") - cov / varm * F.col("mum"), 6).alias("alpha"),
        F.round(cov / F.sqrt(varm * vara), 6).alias("corr_r"),
    )
