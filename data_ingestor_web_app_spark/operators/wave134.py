"""Wave-134: peaks-over-threshold GPD fit, Hampel outlier filter, and the
trimmed mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_pot_gpd_fit",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    thr AS (
        SELECT x AS u FROM (
            SELECT x, ROW_NUMBER() OVER (ORDER BY x, day) AS rn,
                   COUNT(*) OVER () AS d
            FROM daily) t
        WHERE rn = CAST(CEIL(0.75 * d) AS BIGINT)
    ),
    exc AS (
        SELECT d.x - t.u AS y
        FROM daily d CROSS JOIN thr t
        WHERE d.x > t.u
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(y * y) AS BIGINT) AS qy
        FROM exc
    )
    SELECT t.u AS threshold, s.k AS n_exceed,
           ROUND(s.sy * 1e0 / s.k, 6) AS mean_excess,
           ROUND(0.5 * (1 - (s.sy * 1e0 / s.k) * (s.sy * 1e0 / s.k)
                 / ((qy - CAST(sy AS DOUBLE) * sy / k) / (k - 1))), 6)
               AS xi_hat,
           ROUND(0.5 * (s.sy * 1e0 / s.k)
                 * ((s.sy * 1e0 / s.k) * (s.sy * 1e0 / s.k)
                    / ((qy - CAST(sy AS DOUBLE) * sy / k) / (k - 1)) + 1), 6)
               AS beta_hat
    FROM s CROSS JOIN thr t
    """,
)
def events_pot_gpd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold extreme-value fit (Pickands 1975; method-of-
    moments GPD estimators, public): daily counts above the exact
    75th-percentile order statistic become excesses y; the generalized
    Pareto shape ξ = ½(1 − m²/s²) and scale β = ½m(m²/s² + 1) follow
    from the excess mean and sample variance. The tail model capacity
    planning extrapolates from — complements the Gumbel block-maxima fit
    (events_extreme_value_gumbel) with the POT view of the same tail.

    Determinism: the threshold is an exact order statistic (day
    tie-break); excess sums are exact BIGINTs; ξ/β are one double chain.

    Scale shape: map-side daily collapse, one broadcast threshold row,
    one aggregate over the excess subset."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wt = Window.orderBy("x", "day")
    thr = (
        daily.select(
            "x",
            F.row_number().over(wt).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("d"),
        )
        .where(F.col("rn") == F.ceil(0.75 * F.col("d")).cast("long"))
        .select(F.col("x").alias("u"))
    )
    exc = daily.crossJoin(F.broadcast(thr)).where(F.col("x") > F.col("u")).select(
        (F.col("x") - F.col("u")).alias("y"), "u"
    )
    s = exc.groupBy("u").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("qy"),
    )
    m = F.col("sy") * F.lit(1.0) / F.col("k")
    var = (F.col("qy") - F.col("sy").cast("double") * F.col("sy") / F.col("k")) / (
        F.col("k") - 1
    )
    ratio = m * m / var
    return s.select(
        F.col("u").alias("threshold"),
        F.col("k").alias("n_exceed"),
        F.round(m, 6).alias("mean_excess"),
        F.round(0.5 * (1 - ratio), 6).alias("xi_hat"),
        F.round(0.5 * m * (ratio + 1), 6).alias("beta_hat"),
    )


@query(
    "events_hampel_filter",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, day
    ),
    win AS (
        SELECT event_type, day, x,
               LIST(x) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
        FROM daily
    ),
    med AS (
        SELECT event_type, day, x, w,
               LIST_SORT(w)[(LEN(w) + 1) // 2] AS med
        FROM win
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, x,
           CAST(med AS BIGINT) AS med,
           CAST(LIST_SORT(LIST_TRANSFORM(w, v -> ABS(v - med)))
                [(LEN(w) + 1) // 2] AS BIGINT) AS mad,
           CASE WHEN ABS(x - med) >
                     3 * LIST_SORT(LIST_TRANSFORM(w, v -> ABS(v - med)))
                         [(LEN(w) + 1) // 2]
                THEN TRUE ELSE FALSE END AS is_outlier
    FROM med
    """,
)
def events_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel identifier (Hampel 1974; the rolling-median outlier filter,
    public): per event type, each day's count is compared against the
    7-day-window median; deviations beyond 3× the window MAD flag
    outliers. The robust despiker every telemetry pipeline runs before
    trend fitting — unlike z-scores, a burst cannot mask itself by
    inflating the mean/SD it is judged against.

    Determinism: medians and MADs are exact lower-median order
    statistics over integer window arrays (sorted-array indexing, both
    engines identical); the 3×MAD comparison is pure integers.

    Scale shape: map-side daily collapse, then per-type windows with a
    bounded 7-element array per row — no shuffle beyond the type
    cluster."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    win = daily.select(
        "event_type", "day", "x", F.collect_list("x").over(w).alias("w")
    )
    med = F.element_at(
        F.sort_array("w"), ((F.size("w") + 1) / 2).cast("int")
    )
    base = win.select("event_type", "day", "x", "w", med.alias("med"))
    mad = F.element_at(
        F.sort_array(F.transform("w", lambda v: F.abs(v - F.col("med")))),
        ((F.size("w") + 1) / 2).cast("int"),
    )
    return base.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        F.col("med").cast("long").alias("med"),
        mad.cast("long").alias("mad"),
        (F.abs(F.col("x") - F.col("med")) > 3 * mad).alias("is_outlier"),
    )


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS x,
               event_id
        FROM events
    ),
    r AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY x, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(n) - 2 * (MAX(n) // 10) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                          THEN x ELSE 0 END) * 1e0
                 / (MAX(n) - 2 * (MAX(n) // 10)) / 1000, 6) AS trimmed_mean,
           ROUND(SUM(x) * 1e0 / MAX(n) / 1000, 6) AS plain_mean
    FROM r GROUP BY event_type
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed mean per event type (Tukey's robust location estimate,
    public): drop the lowest and highest ⌊n/10⌋ milli-values by exact
    rank (event_id tie-break) and average the middle 80% — the
    heavy-tail-resistant companion to agg_winsorized_mean (which clamps
    instead of dropping). Reported next to the plain mean so the
    tail-contamination gap is visible.

    Determinism: ranks are total-ordered; kept-sum is an exact BIGINT;
    one division chain.

    Scale shape: one shuffle on event_type for the rank window, then a
    map-side-combined conditional sum — no second pass."""
    v = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("x"),
        "event_id",
    )
    wr = Window.partitionBy("event_type").orderBy("x", "event_id")
    r = v.select(
        "event_type",
        "x",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    k = F.floor(F.col("n") / 10)
    kept = F.when((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k), F.col("x")).otherwise(0)
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        (F.max("n") - 2 * F.floor(F.max("n") / 10)).cast("long").alias("n_kept"),
        F.round(
            F.sum(kept)
            * F.lit(1.0)
            / (F.max("n") - 2 * F.floor(F.max("n") / 10))
            / 1000,
            6,
        ).alias("trimmed_mean"),
        F.round(F.sum("x") * F.lit(1.0) / F.max("n") / 1000, 6).alias("plain_mean"),
    )
