"""Wave-79: tabular CUSUM drift detection in exact integer arithmetic,
a closed-form logistic-regression Newton step from sufficient statistics,
and integral images (2-D prefix sums) over real decoded PNGs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_cusum_drift",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events WHERE event_type = 'click'
        GROUP BY day
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(n_events) AS BIGINT) AS total
        FROM daily
    ),
    dev AS (
        SELECT day, n_events, n_days * n_events - total AS d
        FROM daily, tot
    ),
    pre AS (
        SELECT day, n_events, d,
               SUM(d) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS p
        FROM dev
    ),
    run AS (
        SELECT day, n_events, p,
               LEAST(CAST(0 AS BIGINT),
                     MIN(p) OVER (ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)) AS lo,
               GREATEST(CAST(0 AS BIGINT),
                        MAX(p) OVER (ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW)) AS hi
        FROM pre
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day, n_events,
           ROUND((p - lo) * 1.0 / n_days, 4) AS cusum_up,
           ROUND((hi - p) * 1.0 / n_days, 4) AS cusum_dn,
           2 * (p - lo) > total AS alarm_up,
           2 * (hi - p) > total AS alarm_dn
    FROM run, tot
    ORDER BY day
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM control chart (Page 1954, public) over the daily
    click-event series: the upper/lower cumulative sums that catch small
    sustained mean shifts Shewhart charts miss (events_control_chart_imr
    is the Shewhart companion). Uses the identity
    S+_i = max(0, S+_{i-1} + dev_i) = P_i - min(0, min_{j<=i} P_j)
    (and its mirror for S-), which turns the nonlinear recurrence into
    two plain running windows — the trick that makes CUSUM distributable
    at all.

    Determinism: deviations are scaled by n_days so dev = n*x - total is
    an exact BIGINT; prefix sums, running extrema, and the alarm
    comparison (2*S > total, i.e. S/n > mean/2) all stay in integer
    arithmetic; the only doubles are the final display division, rounded.

    Scale shape: one map-side-combined groupBy to days, then windows
    over the tiny aggregated series. The post-agg window is a single
    partition here (~hundreds of rows after a 1e6x reduction); the
    100 TB form partitions by series key (metric, segment) — per-key
    CUSUM is embarrassingly parallel and this plan is per-key verbatim."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("n_events").cast("long").alias("total"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).withColumn(
        "d", F.col("n_days") * F.col("n_events") - F.col("total")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    run = dev.select(
        "day",
        "n_events",
        "n_days",
        "total",
        F.sum("d").over(w).alias("p"),
    ).select(
        "day",
        "n_events",
        "n_days",
        "total",
        "p",
        F.least(F.lit(0).cast("long"), F.min("p").over(w)).alias("lo"),
        F.greatest(F.lit(0).cast("long"), F.max("p").over(w)).alias("hi"),
    )
    return run.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round((F.col("p") - F.col("lo")) / F.col("n_days"), 4).alias("cusum_up"),
        F.round((F.col("hi") - F.col("p")) / F.col("n_days"), 4).alias("cusum_dn"),
        (2 * (F.col("p") - F.col("lo")) > F.col("total")).alias("alarm_up"),
        (2 * (F.col("hi") - F.col("p")) > F.col("total")).alias("alarm_dn"),
    ).orderBy("day")


@query(
    "model_logistic_newton_step",
    oracle="""
    WITH x AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS xi,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xi) AS BIGINT) AS sx,
               CAST(SUM(xi * xi) AS BIGINT) AS sxx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(xi * y) AS BIGINT) AS sxy
        FROM x
    )
    SELECT n,
           ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_y,
           ROUND(4.0 * (sxx * (sy - n / 2.0) - sx * (sxy - sx / 2.0))
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
               AS beta0,
           ROUND(100.0 * 4.0 * (n * (sxy - sx / 2.0) - sx * (sy - n / 2.0))
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
               AS beta1
    FROM s
    """,
)
def model_logistic_newton_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Newton-Raphson step of logistic regression from beta = 0
    (the IRLS iteration, McCullagh & Nelder, public) for
    P(l_returnflag = 'R') ~ intercept + l_discount. At beta = 0 every
    fitted p is 1/2, so the weight matrix is I/4 and the step has the
    closed form beta = 4 (X'X)^{-1} X'(y - 1/2) — five sufficient
    statistics and a 2x2 inverse, which is exactly how distributed GLM
    solvers (Spark MLlib included) structure every iteration: partials
    map-side, solve driver-side at negligible size.

    Determinism: the regressor is exact integer discount-cents, so n,
    Sx, Sxx, Sy, Sxy are exact BIGINTs; beta is one fixed double
    formula over them, rounded 6dp (beta1 rescaled x100 back to the
    discount-fraction scale).

    Scale shape: a single projection + global aggregate; K features
    mean K(K+3)/2 sums, still one map-side-combined pass per
    iteration."""
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("xi"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    s = li.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("xi") * F.col("y")).cast("long").alias("sxy"),
    )
    det = (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    g0 = F.col("sy") - F.col("n") / 2.0
    g1 = F.col("sxy") - F.col("sx") / 2.0
    return s.select(
        "n",
        F.round(F.col("sy").cast("double") / F.col("n"), 6).alias("mean_y"),
        F.round(4.0 * (F.col("sxx") * g0 - F.col("sx") * g1) / det, 6).alias("beta0"),
        F.round(100.0 * 4.0 * (F.col("n") * g1 - F.col("sx") * g0) / det, 6).alias(
            "beta1"
        ),
    )


@query(
    "mm_image_integral",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, w, h, x, y,
               (x * 7 + y * 13 + doc_id) % 256 AS v
        FROM px
    )
    SELECT doc_id,
           CAST(SUM(v) AS BIGINT) AS total_sum,
           CAST(SUM(CASE WHEN x <= w // 2 AND y <= h // 2 THEN v ELSE 0 END)
                AS BIGINT) AS center_integral,
           CAST(SUM(CASE WHEN x > w // 2 AND y > h // 2 THEN v ELSE 0 END)
                AS BIGINT) AS br_box_sum
    FROM vals
    GROUP BY doc_id
    """,
)
def mm_image_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integral image (summed-area table, Crow 1984 / Viola-Jones 2001,
    public) per REAL decoded PNG: the 2-D prefix sum that makes any
    box-filter response O(1) — the primitive under Haar features, fast
    blur, and adaptive thresholding in a multimodal preprocessing
    pipeline. Emits the full-image sum (bottom-right integral entry),
    the integral at the center probe, and the bottom-right quadrant box
    sum recovered from FOUR corner lookups of the table — so the hash
    proves the whole cumsum plane, not just one cell.

    Determinism: uint8 pixels summed into int64 — exact; the oracle
    re-derives every pixel from the generator formula, so the check
    covers PNG decode + both cumsum axes + the 4-corner identity.

    Scale shape: Arrow-batched mapInPandas, one output row per image,
    zero shuffle (each summed-area table is complete within its
    payload); production keeps the table per-image in the same batch
    for downstream box probes."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def integral_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = (
                    np.frombuffer(pix, dtype=np.uint8)
                    .reshape(h, w)
                    .astype(np.int64)
                )
                sat = img.cumsum(axis=0).cumsum(axis=1)
                cx, cy = w // 2, h // 2
                total = int(sat[h - 1, w - 1])
                center = int(sat[cy, cx])
                # bottom-right quadrant via the 4-corner identity
                br = (
                    total
                    - int(sat[cy, w - 1])
                    - int(sat[h - 1, cx])
                    + int(sat[cy, cx])
                )
                rows.append((doc_id, total, center, br))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "total_sum", "center_integral", "br_box_sum"],
            )

    return payloads.mapInPandas(
        integral_batches,
        schema="doc_id long, total_sum long, center_integral long, br_box_sum long",
    )
