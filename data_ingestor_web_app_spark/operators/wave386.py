"""Wave-386: windowed Fano factor (Fano, Phys. Rev. 1947; the
point-process dispersion diagnostic) and Higuchi fractal dimension
(Higuchi, Physica D 1988 — the time-domain FD estimator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_fano_factor",
    oracle="""
    WITH spans AS (
        SELECT unit, secs,
               CAST(DATE_DIFF('second',
                    DATE_TRUNC(unit, (SELECT MIN(ts) FROM events)),
                    DATE_TRUNC(unit, (SELECT MAX(ts) FROM events)))
                    / secs AS BIGINT) + 1 AS w
        FROM (VALUES ('hour', 3600), ('day', 86400), ('week', 604800))
             AS u(unit, secs)
    ),
    counts AS (
        SELECT u.unit, DATE_TRUNC(u.unit, e.ts) AS win,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events e
        CROSS JOIN (VALUES ('hour'), ('day'), ('week')) AS u(unit)
        GROUP BY 1, 2
    ),
    moments AS (
        SELECT unit,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(SUM(c * c) AS BIGINT) AS sum_c2
        FROM counts GROUP BY unit
    )
    SELECT m.unit AS window_unit,
           s.w AS n_windows,
           m.n_events,
           m.sum_c2,
           ROUND((s.w * m.sum_c2 - m.n_events * m.n_events) * 1.0
                 / (s.w * m.n_events), 6) AS fano
    FROM moments m JOIN spans s ON s.unit = m.unit
    ORDER BY s.secs
    """,
)
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed Fano factor F(T) = Var(N_T)/E(N_T) of the event arrival
    process at hour/day/week windows — 1 for a Poisson process, > 1 for
    clustered (bursty) arrivals, with the growth of F(T) in T the
    classic long-range-dependence signature. Empty windows COUNT: the
    window total W spans trunc(min ts)..trunc(max ts) inclusive, so the
    population variance is (Σc² )/W − (N/W)², folded into the single
    exact-integer ratio (W·Σc² − N²)/(W·N).

    Determinism: N, Σc², W are exact integers; fano is one double
    division ROUND 6.

    Scale shape: one map-side-combined groupBy per window unit (fused
    into a single pass by the unit explode); the moment frames are
    3 rows. Corpus rows are touched once."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    units = spark.createDataFrame(
        [("hour", 3600), ("day", 86400), ("week", 604800)], "unit string, secs long"
    )
    def trunc(col):
        # date_trunc's unit must be a literal, so branch over the grid
        return (
            F.when(F.col("unit") == "hour", F.date_trunc("hour", col))
            .when(F.col("unit") == "day", F.date_trunc("day", col))
            .otherwise(F.date_trunc("week", col))
        )

    spans = (
        units.crossJoin(F.broadcast(bounds))
        .select(
            "unit",
            "secs",
            (
                (F.unix_timestamp(trunc(F.col("mx"))) - F.unix_timestamp(trunc(F.col("mn"))))
                / F.col("secs")
            )
            .cast("long")
            .alias("w0"),
        )
        .select("unit", "secs", (F.col("w0") + 1).alias("w"))
    )
    counts = (
        e.crossJoin(F.broadcast(units.select("unit")))
        .groupBy("unit", trunc(F.col("ts")).alias("win"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    moments = counts.groupBy("unit").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    return (
        moments.join(F.broadcast(spans), "unit")
        .select(
            F.col("unit").alias("window_unit"),
            F.col("w").alias("n_windows"),
            "n_events",
            "sum_c2",
            F.round(
                (F.col("w") * F.col("sum_c2") - F.col("n_events") * F.col("n_events"))
                * 1.0
                / (F.col("w") * F.col("n_events")),
                6,
            ).alias("fano"),
            "secs",
        )
        .orderBy("secs")
        .drop("secs")
    )


_HK = 4  # Higuchi stride grid k = 1.._HK


@query(
    "events_higuchi_fd",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, c FROM daily),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
    ks AS (SELECT UNNEST(RANGE(1, {_HK} + 1)) AS k),
    diffs AS (
        SELECT ks.k,
               ((a.i - 1) % ks.k) + 1 AS m,
               ABS(b.c - a.c) AS d
        FROM idx a
        JOIN ks ON TRUE
        JOIN idx b ON b.i = a.i + ks.k
    ),
    lm AS (
        SELECT k, m,
               CAST(SUM(d) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS nseg
        FROM diffs GROUP BY k, m
    ),
    lk AS (
        SELECT lm.k,
               CAST(SUM(s) AS BIGINT) AS sum_abs,
               -- L(k) = avg over m of s_mk * (N-1) / (nseg * k * k)
               SUM(s * (n.n - 1) * 1.0 / (nseg * lm.k * lm.k)) / lm.k AS l_k
        FROM lm, n GROUP BY lm.k
    ),
    pts AS (
        SELECT LIST(STRUCT_PACK(x := LN(CAST(k AS DOUBLE)),
                                y := LN(l_k)) ORDER BY k) AS xs
        FROM lk
    ),
    moms AS (
        SELECT LIST_REDUCE(LIST_TRANSFORM(xs, s -> s.x), (a, b) -> a + b) AS sx,
               LIST_REDUCE(LIST_TRANSFORM(xs, s -> s.y), (a, b) -> a + b) AS sy,
               LIST_REDUCE(LIST_TRANSFORM(xs, s -> s.x * s.x), (a, b) -> a + b) AS sxx,
               LIST_REDUCE(LIST_TRANSFORM(xs, s -> s.x * s.y), (a, b) -> a + b) AS sxy,
               LEN(xs) AS np
        FROM pts
    )
    SELECT n.n AS n_days,
           (SELECT sum_abs FROM lk WHERE k = 1) AS sum_abs_k1,
           (SELECT sum_abs FROM lk WHERE k = 2) AS sum_abs_k2,
           (SELECT sum_abs FROM lk WHERE k = 3) AS sum_abs_k3,
           (SELECT sum_abs FROM lk WHERE k = 4) AS sum_abs_k4,
           ROUND(-(moms.np * moms.sxy - moms.sx * moms.sy)
                 / (moms.np * moms.sxx - moms.sx * moms.sx), 6) AS higuchi_fd
    FROM n, moms
    """,
)
def events_higuchi_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higuchi fractal dimension of the daily event-count series: for
    strides k = 1..4 and phases m = 1..k, curve length
    L_m(k) = Σ|x_(m+ik) − x_(m+(i−1)k)| · (N−1)/(#segments · k²), L(k)
    averages phases, and FD is −slope of the ln L(k) vs ln k OLS fit —
    ≈1 for a smooth trend, →2 for noise-dominated series (Higuchi 1988).
    The four per-stride Σ|Δ| sums are emitted as exact-integer anchors.

    Determinism: stride sums are exact integers; L(k), the four logs and
    the 4-point OLS fold in a pinned k-order list reduction (the
    text_heaps_law_fit log-OLS discipline); FD is ROUND 6.

    Scale shape: calendar collapse first; stride pairing is a banded
    self-join on the bounded daily index (b.i = a.i + k over ≤ 4 k's).
    The day-index window runs over the collapsed series, never raw
    rows."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    idx = daily.select(F.row_number().over(Window.orderBy("day")).alias("i"), "c")
    n = idx.agg(F.count("*").cast("long").alias("n"))
    ks = spark.range(1, _HK + 1).select(F.col("id").alias("k"))
    a = idx.select(F.col("i").alias("ai"), F.col("c").alias("ac"))
    b = idx.select(F.col("i").alias("bi"), F.col("c").alias("bc"))
    diffs = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("bi") == F.col("ai") + F.col("k"))
        .select(
            "k",
            (((F.col("ai") - 1) % F.col("k")) + 1).alias("m"),
            F.abs(F.col("bc") - F.col("ac")).alias("d"),
        )
    )
    lm = diffs.groupBy("k", "m").agg(
        F.sum("d").cast("long").alias("s"),
        F.count("*").cast("long").alias("nseg"),
    )
    lk = (
        lm.crossJoin(F.broadcast(n))
        .groupBy("k")
        .agg(
            F.sum("s").cast("long").alias("sum_abs"),
            F.sum(
                F.col("s")
                * (F.col("n") - 1)
                * 1.0
                / (F.col("nseg") * F.col("k") * F.col("k"))
            ).alias("_pre"),
        )
        .select("k", "sum_abs", (F.col("_pre") / F.col("k")).alias("l_k"))
    )
    pts = lk.select(
        "k",
        F.log(F.col("k").cast("double")).alias("x"),
        F.log("l_k").alias("y"),
    ).agg(F.sort_array(F.collect_list(F.struct("k", "x", "y"))).alias("xs"))
    moms = pts.select(
        F.expr("aggregate(xs, 0.0D, (a, s) -> a + s.x)").alias("sx"),
        F.expr("aggregate(xs, 0.0D, (a, s) -> a + s.y)").alias("sy"),
        F.expr("aggregate(xs, 0.0D, (a, s) -> a + s.x * s.x)").alias("sxx"),
        F.expr("aggregate(xs, 0.0D, (a, s) -> a + s.x * s.y)").alias("sxy"),
        F.size("xs").cast("long").alias("np"),
    )
    anchors = lk.groupBy().pivot("k", [1, 2, 3, 4]).sum("sum_abs")
    anchors = anchors.select(
        *[F.col(str(k)).cast("long").alias(f"sum_abs_k{k}") for k in (1, 2, 3, 4)]
    )
    fd = (
        -(F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return (
        n.crossJoin(F.broadcast(anchors))
        .crossJoin(F.broadcast(moms))
        .select(
            F.col("n").alias("n_days"),
            "sum_abs_k1",
            "sum_abs_k2",
            "sum_abs_k3",
            "sum_abs_k4",
            F.round(fd, 6).alias("higuchi_fd"),
        )
    )
