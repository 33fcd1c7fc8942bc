"""Wave-181: FIFO inventory cost allocation and run-length compressibility
of decoded images.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "warehouse_fifo_cogs",
    oracle="""
    WITH layers AS (
        SELECT l_partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cost_cents,
               STRFTIME(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS d,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    cum AS (
        SELECT l_partkey, qty, cost_cents, d,
               SUM(qty) OVER (PARTITION BY l_partkey
                              ORDER BY d, l_orderkey, l_linenumber, cost_cents, qty
                              ROWS UNBOUNDED PRECEDING) - qty AS qty_before,
               SUM(qty) OVER (PARTITION BY l_partkey) AS total_qty
        FROM layers
    ),
    alloc AS (
        SELECT l_partkey, total_qty, total_qty // 2 AS demand,
               GREATEST(0, LEAST(qty, total_qty // 2 - qty_before)) AS consumed,
               qty, cost_cents, d
        FROM cum
    )
    SELECT l_partkey AS part_key,
           CAST(MIN(total_qty) AS BIGINT) AS total_qty,
           CAST(MIN(demand) AS BIGINT) AS demand_qty,
           CAST(SUM(CASE WHEN consumed > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_layers_touched,
           CAST(SUM(consumed * cost_cents // qty) AS BIGINT) AS cogs_cents,
           MAX(CASE WHEN consumed > 0 THEN d END) AS last_layer_date
    FROM alloc
    GROUP BY l_partkey
    """,
)
def warehouse_fifo_cogs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO cost-of-goods-sold allocation — the classic layered-inventory
    problem done the set-based way: each part's lineitems are receipt
    LAYERS ordered by ship date; a demand of half the part's total units
    consumes layers first-in-first-out; consumption per layer is the
    closed-form clamp(demand - cum_qty_before, 0, layer_qty) over ONE
    cumulative-sum window (no iteration, no per-layer loop — the textbook
    "FIFO as window function" rewrite that scales where a procedural
    allocator cannot). Cost charged per layer is integer cents apportioned
    by floor division.

    Determinism: quantities are integral; costs are exact cents
    (ROUND(price*100) of a 2dp value never sits on a rounding boundary);
    the window has a total order (date, orderkey, linenumber + value
    tie-breaks for the fixture's duplicated line identities — duplicate
    rows are identical in all allocated quantities, so any order of
    identical rows yields the same aggregate); floor division `DIV`
    matches DuckDB `//` (its `/` is float division — round-3 gotcha).

    Scale shape: one shuffle keyed on l_partkey; both windows share that
    partitioning (Catalyst reuses the exchange); the final rollup is the
    same key — a single-shuffle plan end-to-end."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cost_cents"),
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM-dd").alias("d"),
        "l_orderkey",
        "l_linenumber",
    )
    order = [
        F.col("d"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("cost_cents"),
        F.col("qty"),
    ]
    w = Window.partitionBy("l_partkey").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wp = Window.partitionBy("l_partkey")
    cum = li.select(
        "l_partkey",
        "qty",
        "cost_cents",
        "d",
        (F.sum("qty").over(w) - F.col("qty")).alias("qty_before"),
        F.sum("qty").over(wp).alias("total_qty"),
    )
    demand = F.expr("total_qty DIV 2")
    consumed = F.greatest(
        F.lit(0).cast("long"), F.least(F.col("qty"), demand - F.col("qty_before"))
    )
    alloc = cum.select(
        "l_partkey",
        "total_qty",
        demand.alias("demand"),
        consumed.alias("consumed"),
        "qty",
        "cost_cents",
        "d",
    )
    return alloc.groupBy("l_partkey").agg(
        F.min("total_qty").cast("long").alias("total_qty"),
        F.min("demand").cast("long").alias("demand_qty"),
        F.sum((F.col("consumed") > 0).cast("long")).cast("long").alias("n_layers_touched"),
        F.sum(F.expr("consumed * cost_cents DIV qty")).cast("long").alias("cogs_cents"),
        F.max(F.when(F.col("consumed") > 0, F.col("d"))).alias("last_layer_date"),
    ).withColumnRenamed("l_partkey", "part_key")


@query(
    "mm_image_rle",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (
        SELECT doc_id, y * w + x AS i,
               ((x * 7 + y * 13 + doc_id) % 256) // 64 AS lvl
        FROM (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys)
    ),
    marks AS (
        SELECT doc_id, i, lvl,
               CASE WHEN LAG(lvl) OVER (PARTITION BY doc_id ORDER BY i) = lvl
                    THEN 0 ELSE 1 END AS brk
        FROM px
    ),
    runs AS (
        SELECT doc_id,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM marks
    ),
    rl AS (SELECT doc_id, run_id, COUNT(*) AS len FROM runs GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(len) AS BIGINT) AS n_pixels,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(len) AS BIGINT) AS max_run,
           CAST(SUM(len) AS DOUBLE) / COUNT(*) AS compression_ratio
    FROM rl GROUP BY doc_id
    """,
)
def mm_image_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length compressibility of REAL decoded images: each synthetic
    PNG (same deterministic payloads as mm_decode_image) is decoded
    executor-side, quantized to 4 intensity levels (>> 6), and run-length
    encoded in row-major order; per image we report pixel count, run
    count, longest run, and the RLE compression ratio. This is the cheap
    "is this image worth keeping at full fidelity?" screen a multimodal
    training pipeline runs before expensive feature extraction — flat
    regions compress, noise does not.

    Determinism: the oracle replays the pixel formula analytically and
    counts runs with the gaps-and-islands idiom (LAG-mark then cumulative
    sum), so a hash match proves the encode -> PNG bytes -> decode -> RLE
    path end-to-end; ratio is one IEEE divide of exact counts (unrounded —
    ratios of integers can land on ROUND's half grid, the
    win_distribution_ranks lesson).

    Scale shape: decode + RLE is a per-row Arrow-batched map (numpy diff
    over the pixel buffer — vectorized, no Python loop per pixel); no
    shuffle at all: the per-image features come out of mapInPandas
    directly."""
    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def rle_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_pixels": [], "n_runs": [], "max_run": [], "compression_ratio": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                lvl = np.frombuffer(pix, dtype=np.uint8) >> 6
                brk = np.flatnonzero(np.diff(lvl.astype(np.int16)) != 0)
                bounds = np.concatenate(([0], brk + 1, [lvl.size]))
                lens = np.diff(bounds)
                out["doc_id"].append(doc_id)
                out["n_pixels"].append(int(lvl.size))
                out["n_runs"].append(int(lens.size))
                out["max_run"].append(int(lens.max()))
                out["compression_ratio"].append(lvl.size / lens.size)
            yield pd.DataFrame(out)

    return payloads.mapInPandas(
        rle_batches,
        schema="doc_id long, n_pixels long, n_runs long, max_run long,"
        " compression_ratio double",
    )
