"""Wave-42: incremental file-stream ETL, dedup threshold profile,
multimodal payload router.

stream_incremental_etl is the bread-and-butter production pattern the
streaming suite hadn't pinned yet: a checkpointed file stream consumed in
TWO separate availableNow runs (new files land between them) whose
appended sink must equal the one-shot batch transform — incremental ==
batch for ETL, the same discipline stream_cdc_upsert proves for MERGE.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "stream_incremental_etl",
    oracle="""
    SELECT o_orderstatus,
           STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    GROUP BY o_orderstatus, STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m')
    """,
)
def stream_incremental_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file-stream ETL with checkpoint resume across RUNS:
    orders arrive as files; run 1 processes the first batch of files with
    availableNow and stops; MORE files land; run 2 resumes from the SAME
    checkpoint and processes only the new files (the source tracks
    progress). Each micro-batch appends its transformed rows to the sink;
    the final per-status-month rollup over the sink must hash-match the
    one-shot batch query over ALL orders — incremental == batch, with no
    row processed twice despite two separate stream lifecycles.

    Scale shape: the production nightly-ingest pattern — work per run is
    proportional to NEW data only; the sink rollup is map-side combined."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    root = scratch_dir("inc_etl_")
    feed = os.path.join(root, "feed")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    # first two chunks land before run 1; chunk 3 lands between runs
    for i in range(2):
        o.where(F.pmod("o_orderkey", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    def run_stream() -> None:
        s = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .select(
                "o_orderstatus",
                F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month"),
                F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            )
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()  # run 1: chunks 0-1
    o.where(F.pmod("o_orderkey", F.lit(3)) == 2).coalesce(1).write.mode("append").parquet(feed)
    run_stream()  # run 2: resumes checkpoint, sees ONLY chunk 2
    back = spark.read.parquet(sink)
    return back.groupBy("o_orderstatus", "month").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


@query(
    "dedup_threshold_profile",
    oracle="""
    WITH toksets AS (
        SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks
        FROM documents
    ),
    exploded AS (
        SELECT doc_id, UNNEST(toks) AS tok FROM toksets
    ),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM exploded a JOIN exploded b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
        SELECT p.inter * 1.0 / (LEN(ta.toks) + LEN(tb.toks) - p.inter) AS j
        FROM pair_inter p
        JOIN toksets ta ON ta.doc_id = p.doc_a
        JOIN toksets tb ON tb.doc_id = p.doc_b
        WHERE p.inter * 1.0 / (LEN(ta.toks) + LEN(tb.toks) - p.inter) >= 0.7
    )
    SELECT CAST(FLOOR(j * 20) / 20 AS DOUBLE) AS threshold_bin,
           COUNT(*) AS n_pairs
    FROM jac GROUP BY 1
    """,
)
def dedup_threshold_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold profile: exact-Jaccard pair counts in 0.05-wide
    bins above 0.7 — the curve a pipeline owner reads to PICK the dedup
    threshold (where does pair volume explode?) before committing to a
    minhash banding scheme. Same candidate machinery as dedup_near
    (shared-token equi-join, never all-pairs), one extra bucketing rollup.

    Scale shape: identical to dedup_near; the profile adds a map-side
    combined groupBy over the verified pairs only."""
    d = table(spark, sf_dir, "documents")
    toksets = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    exploded = toksets.select("doc_id", F.explode("toks").alias("tok"))
    a = exploded.select(F.col("doc_id").alias("doc_a"), "tok")
    b = exploded.select(F.col("doc_id").alias("doc_b"), "tok")
    pair_inter = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    ta = toksets.select(F.col("doc_id").alias("doc_a"), F.size("toks").alias("na"))
    tb = toksets.select(F.col("doc_id").alias("doc_b"), F.size("toks").alias("nb"))
    j = F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter"))
    jac = (
        pair_inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(j >= 0.7)
        .select(j.alias("j"))
    )
    return jac.groupBy(
        (F.floor(F.col("j") * 20) / 20).cast("double").alias("threshold_bin")
    ).agg(F.count("*").alias("n_pairs"))


@query(
    "mm_modality_router",
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
                   AS modality,
               CASE WHEN doc_id % 2 = 0
                    THEN 16 + doc_id % 16 ELSE 800 + (doc_id % 10) * 80 END
                   AS payload_units
        FROM documents WHERE doc_id < 200
    )
    SELECT modality,
           COUNT(*) AS n_payloads,
           CAST(SUM(payload_units) AS BIGINT) AS total_units,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM docs GROUP BY modality
    """,
)
def mm_modality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal payload ROUTER: a mixed binary column (real PNG bytes
    for even ids, real WAV bytes for odd ids) is classified by MAGIC
    BYTES — the \\x89PNG signature vs the RIFF header — and routed to the
    per-modality decode path, each extracting its native unit count
    (image width / audio frame count) from the actual payload. The
    dispatch step every mixed-modality training pipeline runs before
    decode fan-out; the oracle knows the planted modality analytically,
    so a hash match proves detection + routing + per-modality decode all
    work on real bytes.

    Scale shape: magic-byte sniffing is a per-row prefix comparison on
    the binary column (JVM, no decode); only the routed decode touches
    payload bodies, Arrow-batched per partition."""
    from collections.abc import Iterator

    import pandas as pd

    from data_ingestor_web_app_spark.llm.multimodal import (
        _audio_payloads,
        _image_payloads,
    )

    img = _image_payloads(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    aud = _audio_payloads(spark, sf_dir).where(F.col("doc_id") % 2 == 1)
    mixed = img.unionByName(aud)
    sniffed = mixed.select(
        "doc_id",
        "payload",
        F.when(
            F.substring(F.col("payload"), 1, 8)
            == F.lit(b"\x89PNG\r\n\x1a\n"),
            "image/png",
        )
        .when(F.substring(F.col("payload"), 1, 4) == F.lit(b"RIFF"), "audio/wav")
        .otherwise("unknown")
        .alias("modality"),
    )

    def decode_units(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_ingestor_web_app_spark.llm.codecs import (
            png_decode_gray,
            wav_decode_pcm16,
        )

        for pdf in batches:
            rows = {"doc_id": [], "modality": [], "payload_units": []}
            for doc_id, payload, modality in zip(
                pdf["doc_id"], pdf["payload"], pdf["modality"]
            ):
                if modality == "image/png":
                    w, _h, _pix = png_decode_gray(bytes(payload))
                    units = w
                elif modality == "audio/wav":
                    _rate, n_frames, _s = wav_decode_pcm16(bytes(payload))
                    units = n_frames
                else:
                    units = 0
                rows["doc_id"].append(doc_id)
                rows["modality"].append(modality)
                rows["payload_units"].append(units)
            yield pd.DataFrame(rows)

    routed = sniffed.mapInPandas(
        decode_units, schema="doc_id long, modality string, payload_units long"
    )
    return routed.groupBy("modality").agg(
        F.count("*").alias("n_payloads"),
        F.sum("payload_units").cast("long").alias("total_units"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
