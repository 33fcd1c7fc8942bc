"""Wave-56: zone-map file-skipping report from real parquet footers,
TPC-H-style refresh-stream impact diff, image intensity histograms over
decoded PNGs, A/B test power analysis.
"""

from __future__ import annotations

import glob
import os
import tempfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "maintenance_zone_map_report",
    oracle="""
    SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           STRFTIME(MIN(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_ship,
           STRFTIME(MAX(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_ship,
           CAST(MAX(CAST(l_shipdate AS DATE)) < DATE '1999-01-01' AS BOOLEAN)
               AS skipped_by_pred
    FROM lineitem GROUP BY 1
    """,
)
def maintenance_zone_map_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map effectiveness report read FROM THE ACTUAL PARQUET
    FOOTERS: write lineitem partitioned by ship year, then walk each
    file's row-group statistics (num_rows, l_shipdate min/max) and
    classify which files a `l_shipdate >= DATE '1999-01-01'` scan skips
    without opening them. This is the min/max pruning a 100 TB scan
    lives and dies by — the report is what you'd publish to prove a
    layout's skip rate before committing to it. The oracle recomputes
    the per-partition ground truth relationally, so the hash match
    proves the footer stats agree with the data.

    Scale shape: one shuffle to co-locate each year (repartition by the
    partition column → exactly one file per partition), then pure
    metadata reads — zero row data touched by the report itself."""
    import pyarrow.parquet as pq

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    out = os.path.join(scratch_dir("zone_map_"), "lineitem")
    (
        li.withColumn("yr", F.year("l_shipdate"))
        .repartition("yr")
        .write.mode("overwrite")
        .partitionBy("yr")
        .parquet(out)
    )
    rows = []
    for path in sorted(glob.glob(os.path.join(out, "yr=*", "*.parquet"))):
        yr = int(path.split("yr=")[1].split(os.sep)[0])
        meta = pq.ParquetFile(path).metadata
        n_rows, mins, maxs = meta.num_rows, [], []
        for rg in range(meta.num_row_groups):
            col = next(
                meta.row_group(rg).column(i)
                for i in range(meta.num_columns)
                if meta.row_group(rg).column(i).path_in_schema == "l_shipdate"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        rows.append((yr, n_rows, min(mins).date(), max(maxs).date()))
    report = spark.createDataFrame(
        rows, "yr long, n_rows long, min_d date, max_d date"
    )
    return report.select(
        "yr",
        "n_rows",
        F.date_format("min_d", "yyyy-MM-dd").alias("min_ship"),
        F.date_format("max_d", "yyyy-MM-dd").alias("max_ship"),
        (F.col("max_d") < F.lit("1999-01-01").cast("date")).alias("skipped_by_pred"),
    )


@query(
    "warehouse_refresh_diff",
    oracle="""
    WITH inserted AS (
        SELECT o_orderkey + 100000000 AS o_orderkey, o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    after AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 17 <> 0
        UNION ALL SELECT * FROM inserted
    ),
    b AS (
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_orderstatus
    ),
    a AS (
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM after GROUP BY o_orderstatus
    )
    SELECT b.o_orderstatus,
           CAST(b.n AS BIGINT) AS n_before,
           CAST(a.n AS BIGINT) AS n_after,
           CAST(a.n - b.n AS BIGINT) AS delta_n,
           CAST(a.cents - b.cents AS BIGINT) AS delta_cents
    FROM b JOIN a ON a.o_orderstatus = b.o_orderstatus
    """,
)
def warehouse_refresh_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H refresh-stream analogue (RF1 insert + RF2 delete, TPC-H
    spec §2.27, public): apply a deterministic insert batch (clones of
    orderkey % 13 == 0 shifted past the key space) and a delete batch
    (orderkey % 17 == 0), then report the per-status impact the
    maintenance window must reconcile — the freshness diff every
    warehouse publishes after its nightly refresh.

    Determinism: money in exact integer cents.

    Scale shape: the refresh is a unionByName + a filter (no join at
    all — the delete predicate is key-local); both rollups are
    map-side-combined groupBys over 3 statuses."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    inserted = o.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    after = o.where(F.col("o_orderkey") % 17 != 0).unionByName(inserted)
    cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long")
    b = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_b"), cents.alias("c_b")
    )
    a = after.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_a"), cents.alias("c_a")
    )
    return b.join(a, "o_orderstatus").select(
        "o_orderstatus",
        F.col("n_b").cast("long").alias("n_before"),
        F.col("n_a").cast("long").alias("n_after"),
        (F.col("n_a") - F.col("n_b")).cast("long").alias("delta_n"),
        (F.col("c_a") - F.col("c_b")).cast("long").alias("delta_cents"),
    )


@query(
    "mm_image_histogram",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, (x * 7 + y * 13 + doc_id) % 256 AS v FROM px
    )
    SELECT doc_id, CAST(v // 16 AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM vals GROUP BY doc_id, bin
    """,
)
def mm_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bin intensity histogram per REAL decoded PNG — the classic
    pre-CNN image descriptor (and the exposure/contrast screen a
    multimodal ingest runs before spending GPU time on a frame). Decode
    is the CRC-verified stdlib codec; binning is vectorized numpy
    (pix >> 4). The oracle re-derives every pixel from the generator
    formula, so the hash proves decode + binning exactly.

    Scale shape: Arrow-batched mapInPandas, 16 rows out per image, no
    shuffle at all (the per-image histogram is complete within the
    batch)."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, _, pix = png_decode_gray(bytes(payload))
                counts = np.bincount(
                    np.frombuffer(pix, dtype=np.uint8) >> 4, minlength=16
                )
                for b in range(16):
                    if counts[b]:
                        rows.append((doc_id, b, int(counts[b])))
            yield pd.DataFrame(rows, columns=["doc_id", "bin", "n_px"])

    return payloads.mapInPandas(
        hist_batches, schema="doc_id long, bin int, n_px long"
    )


@query(
    "events_power_analysis",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CAST(ts AS DATE) AS d
        FROM events
    ),
    per AS (
        SELECT event_type,
               COUNT(*) AS n,
               COUNT(DISTINCT d) AS n_days,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(cents * cents) AS BIGINT) AS s2
        FROM c GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_obs,
           ROUND(s1 / 100.0 / n, 4) AS mean_value,
           CAST(CEIL(2 * 2.801585 * 2.801585
                     * (CAST(s2 AS DOUBLE) / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                     / ((0.05 * s1 / n) * (0.05 * s1 / n))) AS BIGINT)
               AS n_per_arm,
           CAST(CEIL(2.0 * CEIL(2 * 2.801585 * 2.801585
                     * (CAST(s2 AS DOUBLE) / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                     / ((0.05 * s1 / n) * (0.05 * s1 / n))) * n_days / n)
                AS BIGINT) AS days_needed
    FROM per
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment power analysis per event type: the sample size
    per arm needed to detect a 5% relative lift in mean event value at
    alpha=0.05 / power=0.8 (z_{a/2}+z_b = 2.801585 — the standard
    two-sample normal approximation), and how many days of current
    traffic that takes. This is the planning readout that precedes
    events_ab_test_lift's post-hoc readout — ship the experiment only
    if days_needed is tolerable.

    Determinism: value in exact integer cents; variance from exact
    BIGINT moment sums through one fixed double formula; ceilings
    compare exact doubles.

    Scale shape: one map-side-combined groupBy over event types; the
    distinct-day count rides the same shuffle."""
    e = table(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("ts").cast("date").alias("d"),
    )
    per = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("d").alias("n_days"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    mean_c = F.col("s1") * 1.0 / F.col("n")
    var_c = F.col("s2").cast("double") / F.col("n") - mean_c * mean_c
    z2 = 2.801585 * 2.801585
    n_arm = F.ceil(2 * z2 * var_c / ((0.05 * F.col("s1") / F.col("n")) * (0.05 * F.col("s1") / F.col("n"))))
    return per.select(
        "event_type",
        F.col("n").cast("long").alias("n_obs"),
        F.round(F.col("s1") / 100.0 / F.col("n"), 4).alias("mean_value"),
        n_arm.cast("long").alias("n_per_arm"),
        F.ceil(2.0 * n_arm * F.col("n_days") / F.col("n")).cast("long").alias("days_needed"),
    )
