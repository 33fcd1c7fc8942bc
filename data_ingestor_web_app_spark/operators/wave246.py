"""Wave-246: second-order time-series structure — the CUSUM-of-squares
variance-changepoint test (Inclán-Tiao ICSS core) and detrended
cross-correlation analysis (DCCA) between the hourly value level and the
hourly event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_HOURLY_SQL = """
    hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx,
               AVG(value) AS x,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    )
"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"), F.count("*").cast("long").alias("cnt"))
    )


@query(
    "events_cusum_squares",
    oracle=f"""
    WITH {_HOURLY_SQL},
    xb AS (SELECT AVG(x) AS xbar, CAST(COUNT(*) AS BIGINT) AS t FROM hourly),
    sq AS (
        SELECT ROW_NUMBER() OVER (ORDER BY hidx) AS k,
               (x - xb.xbar) * (x - xb.xbar) AS e2
        FROM hourly CROSS JOIN xb
    ),
    cum AS (
        SELECT k, SUM(e2) OVER (ORDER BY k) AS ck,
               (SELECT SUM(e2) FROM sq) AS ct,
               (SELECT t FROM xb) AS t
        FROM sq
    ),
    dk AS (
        SELECT k, ck / ct - CAST(k AS DOUBLE) / t AS d, t FROM cum
    ),
    star AS (
        SELECT k, d, t,
               ROW_NUMBER() OVER (ORDER BY ABS(d) DESC, k) AS rn
        FROM dk
    )
    SELECT t AS t_obs,
           k AS k_star,
           ROUND(d, 6) AS d_max,
           ROUND(SQRT(t / 2.0) * ABS(d), 6) AS it_stat,
           SQRT(t / 2.0) * ABS(d) > 1.358 AS variance_break
    FROM star WHERE rn = 1
    """,
)
def events_cusum_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-of-squares variance-changepoint test (Brown, Durbin &
    Evans, JRSS-B 1975; Inclan & Tiao, JASA 1994, public) on the hourly
    mean-value series: D_k = C_k/C_T - k/T for the running sum of
    squared deviations C_k; under constant variance sqrt(T/2)*max|D_k|
    follows the Kolmogorov limit, so exceeding the literal 5% point
    1.358 flags a variance regime change at the argmax hour k* — the
    volatility complement to events_cusum_drift's mean CUSUM (the ICSS
    algorithm iterates exactly this statistic to segment a series).

    Exactness device: the Brownian-bridge statistic reduces to one
    cumulative-sum window over the bounded hourly frame, the argmax has
    a total order (|D| desc, k), and the flag compares the identical
    unrounded chain.

    Scale shape: fact scan folds to hours; one window, one top-1 —
    per-slice variance monitoring just adds the slice key."""
    hourly = _hourly(spark, sf_dir)
    xb = hourly.agg(
        F.avg("x").alias("xbar"), F.count("*").cast("long").alias("t")
    )
    w = Window.orderBy("hidx")
    sq = hourly.crossJoin(F.broadcast(xb)).select(
        F.row_number().over(w).alias("k"),
        ((F.col("x") - F.col("xbar")) * (F.col("x") - F.col("xbar"))).alias(
            "e2"
        ),
        "t",
    )
    wcum = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    ct = sq.agg(F.sum("e2").alias("ct"))
    cum = sq.withColumn("ck", F.sum("e2").over(wcum)).crossJoin(
        F.broadcast(ct)
    )
    dk = cum.select(
        "k",
        "t",
        (F.col("ck") / F.col("ct") - F.col("k").cast("double") / F.col("t")).alias(
            "d"
        ),
    )
    star = dk.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.abs("d").desc(), "k"))
    ).where(F.col("rn") == 1)
    it = F.sqrt(F.col("t") / 2.0) * F.abs(F.col("d"))
    return star.select(
        F.col("t").alias("t_obs"),
        F.col("k").alias("k_star"),
        F.round("d", 6).alias("d_max"),
        F.round(it, 6).alias("it_stat"),
        (it > 1.358).alias("variance_break"),
    )


_DCCA_S = 24


@query(
    "events_dcca",
    oracle=f"""
    WITH {_HOURLY_SQL},
    means AS (SELECT AVG(x) AS mx, AVG(cnt) AS mc FROM hourly),
    prof AS (
        SELECT ROW_NUMBER() OVER (ORDER BY hidx) - 1 AS i,
               SUM(x - m.mx) OVER (ORDER BY hidx) AS px,
               SUM(cnt - m.mc) OVER (ORDER BY hidx) AS py
        FROM hourly CROSS JOIN means m
    ),
    boxed AS (
        SELECT i // {_DCCA_S} AS box, i % {_DCCA_S} AS t, px, py
        FROM prof
        WHERE i // {_DCCA_S} < (SELECT COUNT(*) FROM hourly) // {_DCCA_S}
    ),
    mom AS (
        SELECT box,
               COUNT(*) AS n, AVG(t) AS mt, AVG(px) AS mpx, AVG(py) AS mpy,
               SUM(t * t) AS stt, SUM(t * px) AS stx, SUM(t * py) AS sty,
               SUM(px * px) AS sxx, SUM(py * py) AS syy, SUM(px * py) AS sxy
        FROM boxed GROUP BY box
    ),
    resid AS (
        SELECT box,
               (sxx - n * mpx * mpx)
                 - (stx - n * mt * mpx) * (stx - n * mt * mpx)
                   / (stt - n * mt * mt) AS rxx,
               (syy - n * mpy * mpy)
                 - (sty - n * mt * mpy) * (sty - n * mt * mpy)
                   / (stt - n * mt * mt) AS ryy,
               (sxy - n * mpx * mpy)
                 - (stx - n * mt * mpx) * (sty - n * mt * mpy)
                   / (stt - n * mt * mt) AS rxy,
               n
        FROM mom
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_boxes,
               SUM(rxx / n) / COUNT(*) AS f2x,
               SUM(ryy / n) / COUNT(*) AS f2y,
               SUM(rxy / n) / COUNT(*) AS f2xy
        FROM resid
    )
    SELECT n_boxes, {_DCCA_S} AS box_size,
           ROUND(f2x, 6) AS f2x,
           ROUND(f2y, 6) AS f2y,
           ROUND(f2xy, 6) AS f2xy,
           ROUND(f2xy / SQRT(f2x * f2y), 6) AS rho_dcca
    FROM f
    """,
)
def events_dcca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended cross-correlation analysis (Podobnik & Stanley, PRL
    2008; the rho_DCCA coefficient per Zebende, Physica A 2011, public)
    between the hourly mean value and the hourly event COUNT: integrate
    both centered series into profiles, split into 24-hour boxes,
    remove each box's own linear trend (closed-form OLS via centered
    within-box moments — no per-point residual materialization), and
    correlate what remains. rho_DCCA in [-1,1] measures coupling of the
    two signals' fluctuations AFTER shared trends are removed — the
    honest answer to "do value and volume co-move, or do they just both
    trend?", where raw correlation (events_rolling_corr) conflates the
    two.

    Exactness device: residual cross-products come from the identity
    S_rr = Sxy_c - Sxt_c*Syt_c/Stt_c per box (one algebraic chain from
    integer-indexed sums); profile windows run over the bounded hourly
    frame; outputs round once.

    Scale shape: one fact rollup, one profile window, one groupBy over
    boxes — DCCA as three aggregates; box moments combine map-side."""
    hourly = _hourly(spark, sf_dir)
    means = hourly.agg(F.avg("x").alias("mx"), F.avg("cnt").alias("mc"))
    nh = hourly.agg(
        (F.count("*") / _DCCA_S).cast("long").alias("max_box")
    )
    w = Window.orderBy("hidx").rowsBetween(Window.unboundedPreceding, 0)
    prof = (
        hourly.crossJoin(F.broadcast(means))
        .select(
            "hidx",
            F.sum(F.col("x") - F.col("mx")).over(w).alias("px"),
            F.sum(F.col("cnt") - F.col("mc")).over(w).alias("py"),
        )
        .withColumn(
            "i", F.row_number().over(Window.orderBy("hidx")) - 1
        )
    )
    boxed = (
        prof.crossJoin(F.broadcast(nh))
        .where((F.col("i") / _DCCA_S).cast("long") < F.col("max_box"))
        .select(
            (F.col("i") / _DCCA_S).cast("long").alias("box"),
            (F.col("i") % _DCCA_S).alias("t"),
            "px",
            "py",
        )
    )
    mom = boxed.groupBy("box").agg(
        F.count("*").alias("n"),
        F.avg("t").alias("mt"),
        F.avg("px").alias("mpx"),
        F.avg("py").alias("mpy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("px")).alias("stx"),
        F.sum(F.col("t") * F.col("py")).alias("sty"),
        F.sum(F.col("px") * F.col("px")).alias("sxx"),
        F.sum(F.col("py") * F.col("py")).alias("syy"),
        F.sum(F.col("px") * F.col("py")).alias("sxy"),
    )
    stt_c = F.col("stt") - F.col("n") * F.col("mt") * F.col("mt")
    stx_c = F.col("stx") - F.col("n") * F.col("mt") * F.col("mpx")
    sty_c = F.col("sty") - F.col("n") * F.col("mt") * F.col("mpy")
    resid = mom.select(
        "n",
        (
            (F.col("sxx") - F.col("n") * F.col("mpx") * F.col("mpx"))
            - stx_c * stx_c / stt_c
        ).alias("rxx"),
        (
            (F.col("syy") - F.col("n") * F.col("mpy") * F.col("mpy"))
            - sty_c * sty_c / stt_c
        ).alias("ryy"),
        (
            (F.col("sxy") - F.col("n") * F.col("mpx") * F.col("mpy"))
            - stx_c * sty_c / stt_c
        ).alias("rxy"),
    )
    f = resid.agg(
        F.count("*").cast("long").alias("n_boxes"),
        (F.sum(F.col("rxx") / F.col("n")) / F.count("*")).alias("f2x"),
        (F.sum(F.col("ryy") / F.col("n")) / F.count("*")).alias("f2y"),
        (F.sum(F.col("rxy") / F.col("n")) / F.count("*")).alias("f2xy"),
    )
    return f.select(
        "n_boxes",
        F.lit(_DCCA_S).cast("int").alias("box_size"),
        F.round("f2x", 6).alias("f2x"),
        F.round("f2y", 6).alias("f2y"),
        F.round("f2xy", 6).alias("f2xy"),
        F.round(
            F.col("f2xy") / F.sqrt(F.col("f2x") * F.col("f2y")), 6
        ).alias("rho_dcca"),
    )
