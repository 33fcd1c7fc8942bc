"""Wave-15 streaming addition: windowed top-k composed with batch rank."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.streaming import runtime

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "stream_windowed_topk",
    oracle="""
    WITH counts AS (
        SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT win_start, event_type, n, rk FROM (
        SELECT win_start, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY win_start
                                  ORDER BY n DESC, event_type) AS rk
        FROM counts) t
    WHERE rk <= 2
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per 1-hour window, computed the way production
    actually does it: the STREAM maintains the windowed counts (incremental
    state, complete-mode memory table here; append+watermark+parquet in
    prod), and the RANKING runs as a cheap batch query over the sink table
    — streaming keeps state additive/mergeable, ranking stays out of the
    hot path.

    Scale shape: streaming side is the same keyed-state aggregation as
    stream_tumbling (state = windows x types, bounded by watermark
    eviction); the batch rank partitions by window with the rn<=k
    group-limit pushdown over a table that is already tiny (one row per
    window x type, not per event)."""
    s = runtime.events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("win_start"),
            "event_type",
            "n",
        )
    )
    final = runtime.run_to_memory(agg, "complete")
    w = Window.partitionBy("win_start").orderBy(F.col("n").desc(), F.col("event_type"))
    return final.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 2)


# Reuses wave159's minhash constants and oracle; it registers nothing new.
from data_ingestor_web_app_spark.llm import wave159 as _w159


@query("stream_incremental_minhash_dedup", oracle=_w159._ORACLE)
def stream_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection — the one LLM-pipeline op a 100 TB
    ingest runs CONTINUOUSLY: documents arrive in micro-batches, each batch
    is minhash-banded and joined against the accumulated fingerprint INDEX
    (band, bucket, doc_id) of everything seen so far plus itself, band
    collisions are verified with exact Jaccard against the stored token
    sets, and verified pairs land in an append-only pairs log. The index
    and token store grow append-only; the snapshot-read inside foreachBatch
    sees only fully-committed prior batches.

    Promoted from rows-only to hash-exact in r7 (VERDICT item 5): the band
    hashes now come from wave-159's Carter-Wegman family over md5 token
    digests (exact integer arithmetic in both engines), so the UNION of
    per-batch pair discoveries is DuckDB-replayable — the oracle is the
    one-shot exact-LSH pair set (llm/wave159.py), and per-doc banding finds
    exactly the pairs the oracle's rep-collapse+expand finds because band
    signatures depend only on the token SET. Production throughput corpora
    keep the cheaper xxhash64 family via dedup_minhash_lsh; the structure
    here (index join + internal self-join + append-only pairs log) is
    family-agnostic.

    Equivalence contract (pinned in tests/test_wave8.py): the union of
    per-batch pair discoveries equals dedup_minhash_lsh_exact's one-shot
    batch output EXACTLY, regardless of how the feed was chunked — each
    pair (a, b) is discovered exactly once, in the batch where its later
    member arrives (cross-batch via the index join, same-batch via the
    internal self-join).

    Scale shape: per batch, candidate generation is |batch| x collision
    work, NEVER corpus x corpus — the whole-corpus index is touched only
    through the (band, bucket) equi-join, which a real deployment backs
    with a bucketed table so the probe is shuffle-free on the index side.
    Jaccard verification joins token sets by doc_id (index side bounded by
    candidate count, not corpus size)."""
    import os
    import tempfile

    _N_BANDS, _N_HASHES = _w159._N_BANDS, _w159._N_HASHES

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    root = scratch_dir("stream_lsh_")
    feed_dir = os.path.join(root, "feed")
    index_dir = os.path.join(root, "index")
    toks_dir = os.path.join(root, "toks")
    pairs_dir = os.path.join(root, "pairs")
    # 3-chunk replay feed (same discipline as stream_cdc_upsert)
    for i in range(3):
        d.where(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode("append").parquet(feed_dir)

    rows_per_band = _N_HASHES // _N_BANDS

    def band_rows(docs: DataFrame) -> DataFrame:
        # CW-family signature (wave159's signature kernel over the token
        # array); a band's bucket key is the ':'-joined minhash run — a
        # plain string both engines compute bit-identically
        sig = _w159.with_minhash(
            docs.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
        ).select("doc_id", "mh")
        return sig.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws(
                            ":",
                            *[
                                F.col("mh")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                        for b in range(_N_BANDS)
                    ]
                )
            ).alias("band", "bucket"),
        )

    def verify_pairs(ss, cand: DataFrame, batch_toks: DataFrame) -> DataFrame:
        all_toks = batch_toks
        if os.path.exists(toks_dir):
            all_toks = ss.read.parquet(toks_dir).unionByName(batch_toks)
        ta = all_toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
        tb = all_toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
        inter = F.size(F.array_intersect("toks_a", "toks_b"))
        union = F.size("toks_a") + F.size("toks_b") - inter
        jac = inter / union
        return (
            cand.join(ta, "doc_a")
            .join(tb, "doc_b")
            .where(jac >= 0.9)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        )

    def process_batch(batch_df, _batch_id):
        ss = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)  # pin: feed files won't be re-read
        bb = band_rows(batch).localCheckpoint(eager=True)
        batch_toks = batch.select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
        ).localCheckpoint(eager=True)
        # cross-batch: new docs vs the committed index (pair order by id)
        cands = None
        if os.path.exists(index_dir):
            idx = ss.read.parquet(index_dir)
            cross = (
                bb.alias("n")
                .join(
                    idx.alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.bucket") == F.col("o.bucket")),
                )
                .select(
                    F.least("n.doc_id", "o.doc_id").alias("doc_a"),
                    F.greatest("n.doc_id", "o.doc_id").alias("doc_b"),
                )
            )
            cands = cross
        # same-batch: internal self-join
        internal = (
            bb.alias("a")
            .join(
                bb.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        )
        cands = internal if cands is None else cands.unionByName(internal)
        verified = verify_pairs(ss, cands.distinct(), batch_toks)
        verified.write.mode("append").parquet(pairs_dir)
        # commit this batch into the index + token store AFTER pair discovery
        bb.write.mode("append").parquet(index_dir)
        batch_toks.write.mode("append").parquet(toks_dir)

    q = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(pairs_dir)
