"""Wave-110: Sobel edge-orientation census, conversion-window
sensitivity sweep, and an order-statistic median CI.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_WINDOWS_H = (1, 6, 24, 72)  # funnel windows in hours


@query(
    "mm_image_edge_orientation",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, w, h, x, y, (x * 7 + y * 13 + doc_id) % 256 AS v
        FROM px
    ),
    grads AS (
        SELECT c.doc_id, c.x, c.y,
               (tr.v + 2 * mr.v + br.v) - (tl.v + 2 * ml.v + bl.v) AS gx,
               (bl.v + 2 * bm.v + br.v) - (tl.v + 2 * tm.v + tr.v) AS gy
        FROM vals c
        JOIN vals tl ON tl.doc_id = c.doc_id AND tl.x = c.x - 1 AND tl.y = c.y - 1
        JOIN vals tm ON tm.doc_id = c.doc_id AND tm.x = c.x     AND tm.y = c.y - 1
        JOIN vals tr ON tr.doc_id = c.doc_id AND tr.x = c.x + 1 AND tr.y = c.y - 1
        JOIN vals ml ON ml.doc_id = c.doc_id AND ml.x = c.x - 1 AND ml.y = c.y
        JOIN vals mr ON mr.doc_id = c.doc_id AND mr.x = c.x + 1 AND mr.y = c.y
        JOIN vals bl ON bl.doc_id = c.doc_id AND bl.x = c.x - 1 AND bl.y = c.y + 1
        JOIN vals bm ON bm.doc_id = c.doc_id AND bm.x = c.x     AND bm.y = c.y + 1
        JOIN vals br ON br.doc_id = c.doc_id AND br.x = c.x + 1 AND br.y = c.y + 1
        WHERE c.x BETWEEN 1 AND c.w - 2 AND c.y BETWEEN 1 AND c.h - 2
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN 2 * ABS(gx) >= 5 * ABS(gy) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_vertical_edges,
           CAST(SUM(CASE WHEN 2 * ABS(gy) >= 5 * ABS(gx) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_horizontal_edges,
           CAST(SUM(CASE WHEN 2 * ABS(gx) < 5 * ABS(gy)
                          AND 2 * ABS(gy) < 5 * ABS(gx)
                          AND gx * gy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_diag_pos,
           CAST(SUM(CASE WHEN 2 * ABS(gx) < 5 * ABS(gy)
                          AND 2 * ABS(gy) < 5 * ABS(gx)
                          AND gx * gy <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_diag_neg
    FROM grads
    GROUP BY doc_id
    """,
)
def mm_image_edge_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sobel edge-orientation census (HOG-lite, Dalal-Triggs lineage,
    public) per REAL decoded PNG: 3x3 Sobel gradients classify each
    interior pixel into vertical / horizontal / diagonal± orientation
    bins using PURE INTEGER comparisons (|gx| vs |gy| with a 5:2
    dominance ratio and the sign of gx·gy) — no atan2, no floats — the
    gradient-structure descriptor a vision pipeline computes before
    committing GPU time. Complements mm_image_convolution (Laplacian
    magnitude) with directionality.

    Determinism: Sobel responses and all bin tests are exact integer
    arithmetic end to end.

    Scale shape: mapInPandas with numpy shifted-view convolutions, one
    row per image, zero shuffle; the 8-way neighbor join exists only
    in the oracle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def edge_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w).astype(np.int64)
                tl = img[:-2, :-2]; tm = img[:-2, 1:-1]; tr = img[:-2, 2:]
                ml = img[1:-1, :-2]; mr = img[1:-1, 2:]
                bl = img[2:, :-2]; bm = img[2:, 1:-1]; br = img[2:, 2:]
                gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
                gy = (bl + 2 * bm + br) - (tl + 2 * tm + tr)
                ax, ay = np.abs(gx), np.abs(gy)
                vert = 2 * ax >= 5 * ay
                horiz = 2 * ay >= 5 * ax
                diag = (~vert) & (~horiz)
                dpos = diag & (gx * gy > 0)
                dneg = diag & (gx * gy <= 0)
                rows.append(
                    (doc_id, int(vert.sum()), int(horiz.sum()), int(dpos.sum()), int(dneg.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_vertical_edges",
                    "n_horizontal_edges",
                    "n_diag_pos",
                    "n_diag_neg",
                ],
            )

    return payloads.mapInPandas(
        edge_batches,
        schema=(
            "doc_id long, n_vertical_edges long, n_horizontal_edges long, "
            "n_diag_pos long, n_diag_neg long"
        ),
    )


def _sweep_oracle() -> str:
    cols = ",\n           ".join(
        f"CAST(SUM(CASE WHEN gap_us >= 0 AND gap_us < {hh} * 3600000000::BIGINT"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS conv_{hh}h"
        for hh in _WINDOWS_H
    )
    outs = "\n        UNION ALL\n        ".join(
        f"SELECT {hh} AS window_hours, conv_{hh}h AS n_converted, n_signups, "
        f"ROUND(conv_{hh}h * 1.0 / n_signups, 6) AS conversion_rate FROM agg"
        for hh in _WINDOWS_H
    )
    return f"""
    WITH first_signup AS (
        SELECT user_id, MIN(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    first_purchase_after AS (
        SELECT f.user_id,
               MIN(EPOCH_US(e.ts) - EPOCH_US(f.t0)) AS gap_us
        FROM first_signup f
        LEFT JOIN events e
          ON e.user_id = f.user_id AND e.event_type = 'purchase'
         AND e.ts >= f.t0
        GROUP BY f.user_id
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_signups,
               {cols}
        FROM first_purchase_after
    )
    SELECT window_hours, n_converted, n_signups, conversion_rate FROM (
        {outs}
    ) ORDER BY window_hours
    """


@query("events_funnel_window_sweep", oracle=_sweep_oracle())
def events_funnel_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window sensitivity sweep: signup→purchase conversion
    measured at 1 h / 6 h / 24 h / 72 h attribution windows in ONE pass
    — the analysis that justifies (or indicts) a funnel's window choice
    before anyone ships 'conversion rate' to a dashboard, since the
    number can double between windows. Each user contributes their
    FIRST signup and the minimum signup→purchase gap.

    Determinism: gaps are exact integer microseconds; every window test
    is an integer comparison pivoted into fixed columns; one division
    per row, rounded 6dp.

    Scale shape: two keyed aggregates (first signup, min gap via a
    keyed left join) and one 4-column conditional aggregate — adding
    windows adds columns, never passes."""
    first_signup = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    purchases = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    gaps = (
        first_signup.join(
            purchases.select(F.col("user_id").alias("pu"), F.col("ts").alias("pt")),
            (F.col("user_id") == F.col("pu")) & (F.col("pt") >= F.col("t0")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("pt") - F.unix_micros("t0")).alias("gap_us")
        )
    )
    aggs = [F.count("*").cast("long").alias("n_signups")]
    for hh in _WINDOWS_H:
        aggs.append(
            F.sum(
                F.when(
                    (F.col("gap_us") >= 0) & (F.col("gap_us") < hh * 3600000000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"conv_{hh}h")
        )
    agg = gaps.agg(*aggs)
    # r11: one explode(array(struct...)) over the 1-row sweep aggregate —
    # the old per-window unionByName re-executed the funnel-gap rollup per
    # branch. Per-window expressions unchanged.
    win_structs = [
        F.struct(
            F.lit(hh).alias("window_hours"),
            F.col(f"conv_{hh}h").alias("n_converted"),
            F.col("n_signups"),
            F.round(F.col(f"conv_{hh}h") / F.col("n_signups"), 6).alias(
                "conversion_rate"
            ),
        )
        for hh in _WINDOWS_H
    ]
    return (
        agg.select(F.explode(F.array(*win_structs)).alias("r"))
        .select("r.*")
        .orderBy("window_hours")
    )


@query(
    "agg_median_ci_orderstat",
    oracle="""
    WITH ranked AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM orders
    ),
    bounds AS (
        SELECT n,
               CAST(FLOOR((n - 1.959964 * SQRT(CAST(n AS DOUBLE))) / 2) AS BIGINT)
                   AS lo_rank,
               CAST(CEIL(1 + (n + 1.959964 * SQRT(CAST(n AS DOUBLE))) / 2) AS BIGINT)
                   AS hi_rank
        FROM ranked LIMIT 1
    )
    SELECT b.n,
           ROUND((SELECT cents FROM ranked WHERE rn = (b.n + 1) // 2) / 100.0, 2)
               AS median_value,
           ROUND((SELECT cents FROM ranked WHERE rn = GREATEST(b.lo_rank, 1))
                 / 100.0, 2) AS ci_lo,
           ROUND((SELECT cents FROM ranked WHERE rn = LEAST(b.hi_rank, b.n))
                 / 100.0, 2) AS ci_hi
    FROM bounds b
    """,
)
def agg_median_ci_orderstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free median confidence interval via binomial order
    statistics (Thompson 1936, public): the 95% CI for the median is
    simply the order statistics at ranks (n ± 1.96√n)/2 — no bootstrap,
    no normality, just the binomial pivot — the robust-reporting
    companion to agg_percentile that answers 'how sure are we about
    this median?' in two rank selections.

    Determinism: ranks come from a total order (price, orderkey); the
    rank bounds are one fixed double formula floored/ceiled to exact
    integers; the selected VALUES are exact cents.

    Scale shape (r8 rework, VERDICT r7 item 4): collapse to distinct
    cents + counts FIRST (one partial-agg shuffle); the rank-r order
    statistic is the distinct value whose cumulative count range covers
    r, so the global cumulative window's input is an Aggregate, never
    raw corpus rows."""
    vals = (
        table(spark, sf_dir, "orders")
        .groupBy(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .agg(F.count("*").cast("long").alias("k"))
    )
    wv = Window.orderBy("cents")
    cum = vals.select(
        "cents",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )
    bounds = vals.agg(F.sum("k").cast("long").alias("n")).select(
        "n",
        F.floor((F.col("n") - 1.959964 * F.sqrt(F.col("n").cast("double"))) / 2)
        .cast("long")
        .alias("lo_rank"),
        F.ceil(1 + (F.col("n") + 1.959964 * F.sqrt(F.col("n").cast("double"))) / 2)
        .cast("long")
        .alias("hi_rank"),
    )
    med = cum.where(
        (F.col("below") < F.expr("(n + 1) div 2"))
        & (F.expr("(n + 1) div 2") <= F.col("upto"))
    ).select(F.col("cents").alias("med_cents"))
    j = cum.crossJoin(F.broadcast(bounds.select("lo_rank", "hi_rank")))
    lo = j.where(
        (F.col("below") < F.greatest(F.col("lo_rank"), F.lit(1)))
        & (F.greatest(F.col("lo_rank"), F.lit(1)) <= F.col("upto"))
    ).select(F.col("cents").alias("lo_cents"))
    hi = j.where(
        (F.col("below") < F.least(F.col("hi_rank"), F.col("n")))
        & (F.least(F.col("hi_rank"), F.col("n")) <= F.col("upto"))
    ).select(F.col("cents").alias("hi_cents"))
    return (
        bounds.select("n")
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n",
            F.round(F.col("med_cents") / 100.0, 2).alias("median_value"),
            F.round(F.col("lo_cents") / 100.0, 2).alias("ci_lo"),
            F.round(F.col("hi_cents") / 100.0, 2).alias("ci_hi"),
        )
    )
