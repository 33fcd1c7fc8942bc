"""Wave-45: streaming SCD2 history maintenance, corrupt-file tolerance.

stream_scd2_history extends the incremental==batch discipline
(stream_cdc_upsert, stream_incremental_etl) to TYPE-2 history: the
hardest common lakehouse maintenance job — close the open version,
append the new one, never rewrite history — maintained per micro-batch
and hash-checked against the one-shot batch derivation.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "stream_scd2_history",
    oracle="""
    SELECT o_custkey AS custkey,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
           o_orderpriority AS priority,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS valid_from,
           COALESCE(STRFTIME(LEAD(o_orderdate) OVER w, '%Y-%m-%d'),
                    '9999-12-31') AS valid_to,
           (LEAD(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WHERE o_custkey < 800
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def stream_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 (type-2 history) maintenance: orders arrive in
    three TIME-ORDERED micro-batches (date terciles — SCD2 ingestion
    assumes per-key event-time order, which a real CDC feed guarantees);
    each batch CLOSES the affected keys' open versions (valid_to = the
    key's first new valid_from) and APPENDS its new version chain with
    numbers continuing from the stored max — copy-on-write versioned
    snapshot dirs, never an in-place rewrite. The final table must
    hash-equal the one-shot batch SCD2 window derivation
    (upsert_scd2_history's formulation): incremental == batch for
    history tracking.

    Scale shape per batch: one window over the BATCH (small), one keyed
    join against current rows of affected keys only, one append — the
    history table is never globally rewritten."""
    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") < 800).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    root = scratch_dir("scd2_stream_")
    feed = os.path.join(root, "feed")
    current = {"dir": None}
    # three time-ordered chunks (fixture orders span 1995..2001)
    for lo, hi in (("1995-01-01", "1996-12-31"), ("1997-01-01", "1998-12-31"),
                   ("1999-01-01", "2001-12-31")):
        o.where(
            (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(f"{hi} 23:59:59"))
        ).coalesce(1).write.mode("append").parquet(feed)

    def apply_batch(batch_df, batch_id):
        ss = batch_df.sparkSession
        b = batch_df.localCheckpoint(eager=True)
        wb = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        batch_v = b.select(
            F.col("o_custkey").alias("custkey"),
            F.row_number().over(wb).alias("brn"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(wb).alias("valid_to"),
        )
        first_new = batch_v.where(F.col("brn") == 1).select(
            "custkey", F.col("valid_from").alias("first_new_from")
        )
        if current["dir"] is None:
            hist = None
            base = batch_v.select("custkey").distinct().select(
                "custkey", F.lit(0).alias("base_v")
            )
        else:
            hist = ss.read.parquet(current["dir"])
            # close open versions of affected keys
            hist = (
                hist.join(F.broadcast(first_new), "custkey", "left")
                .select(
                    "custkey",
                    "version",
                    "priority",
                    "valid_from",
                    F.when(
                        F.col("is_current") & F.col("first_new_from").isNotNull(),
                        F.col("first_new_from"),
                    )
                    .otherwise(F.col("valid_to"))
                    .alias("valid_to"),
                    F.when(
                        F.col("is_current") & F.col("first_new_from").isNotNull(), F.lit(False)
                    )
                    .otherwise(F.col("is_current"))
                    .alias("is_current"),
                )
            )
            base = (
                hist.groupBy("custkey").agg(F.max("version").alias("base_v"))
            )
        new_rows = (
            batch_v.join(base, "custkey", "left")
            .select(
                "custkey",
                (F.coalesce(F.col("base_v"), F.lit(0)) + F.col("brn"))
                .cast("int")
                .alias("version"),
                "priority",
                "valid_from",
                "valid_to",
                F.col("valid_to").isNull().alias("is_current"),
            )
        )
        merged = new_rows if hist is None else hist.unionByName(new_rows)
        next_dir = os.path.join(root, f"hist_v{batch_id + 1}")
        merged.write.mode("overwrite").parquet(next_dir)
        current["dir"] = next_dir

    q = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(current["dir"])
    return final.select(
        "custkey",
        "version",
        "priority",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format("valid_to", "yyyy-MM-dd"), F.lit("9999-12-31")).alias(
            "valid_to"
        ),
        "is_current",
    )


@query(
    "scan_ignore_corrupt_files",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file tolerance: a garbage non-parquet file is planted in
    the table directory, and the read proceeds under
    spark.sql.files.ignoreCorruptFiles — yielding exactly the clean rows
    (the oracle). The fault-tolerance switch every large ingest directory
    eventually needs (a truncated upload must not kill the nightly job).

    Scale shape: per-file error isolation at the scan; everything else is
    the ordinary rollup."""
    o = table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    out = os.path.join(scratch_dir("corrupt_scan_"), "orders")
    o.write.mode("overwrite").parquet(out)
    with open(os.path.join(out, "part-corrupt.parquet"), "wb") as f:
        f.write(b"NOT A PARQUET FILE \x00\x01\x02 truncated upload garbage")
    back = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
