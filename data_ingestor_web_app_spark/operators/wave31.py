"""Wave-31: XML surface, batch session windows, manifest vacuum,
image convolution + audio resample kernels, xpath extraction.

Rounds out the source-format matrix (XML joins parquet/ORC/CSV/JSON/
text/binaryFile), exposes Spark's native batch ``session_window``
(the declarative twin of the gaps-and-islands events_sessionize), models
table-format orphan vacuum (manifest-driven file GC), and deepens the
multimodal kernels with a real 2-D convolution (Laplacian edge energy
over decoded PNG pixels) and PCM decimation — all with analytic oracles.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query

import logging

_LOG = logging.getLogger("data_ingestor_web_app_spark.wave31")


@query(
    "source_xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink round-trip (Spark 4 ships the XML data source
    natively): nation → <nations><nation>…</nation></nations> → read back
    with an EXPLICIT schema (inference double-scans, same rule as CSV).
    Values hash-match the parquet original, proving the format adapter is
    lossless for the relational subset.

    Scale shape: XML read is splittable per file; the explicit schema
    keeps the scan single-pass. Row-level formats remain the interchange
    edge of the pipeline — columnar parquet stays the processing format."""
    n = table(spark, sf_dir, "nation")
    out = os.path.join(scratch_dir("src_xml_"), "nation")
    n.write.format("xml").option("rootTag", "nations").option("rowTag", "nation").mode(
        "overwrite"
    ).save(out)
    return (
        spark.read.format("xml")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .option("rowTag", "nation")
        .load(out)
    )


@query(
    "fn_xpath",
    oracle="""
    SELECT o_orderkey,
           o_orderkey AS xk,
           o_orderstatus AS xs,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xp_cents
    FROM orders WHERE o_orderkey < 2000
    """,
)
def fn_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath extraction over an XML-shaped string column: each order is
    serialized to '<o k="…"><s>…</s><p>…</p></o>' and the xpath_long /
    xpath_string built-ins pull the attribute and elements back out. The
    oracle is the identity on the source columns — a hash match proves
    serialize→extract round-trips exactly (the fn_hex/fn_base64 codec
    discipline applied to markup).

    Scale shape: pure per-row JVM expressions — no UDF, no shuffle."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    xml = F.concat(
        F.lit('<o k="'), F.col("o_orderkey"), F.lit('"><s>'),
        F.col("o_orderstatus"), F.lit("</s><p>"), cents, F.lit("</p></o>"),
    )
    return o.select("o_orderkey", xml.alias("__xml")).select(
        "o_orderkey",
        F.expr("xpath_long(__xml, '/o/@k')").alias("xk"),
        F.expr("xpath_string(__xml, '/o/s')").alias("xs"),
        F.expr("xpath_long(__xml, '/o/p')").alias("xp_cents"),
    )


@query(
    "agg_session_window_batch",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    marked AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(prev_ts) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id, CAST(sid AS BIGINT) AS sid,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           CAST(EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS BIGINT) AS span_us
    FROM islands GROUP BY user_id, sid
    """,
)
def agg_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` in BATCH mode (30-min gap): the
    declarative one-liner whose output must equal the hand-rolled
    gaps-and-islands formulation (events_sessionize) — the oracle IS that
    formulation, so the hash pins Spark's session-merge semantics
    (half-open [start, last+gap): a gap of exactly 30:00 starts a new
    session) against the explicit SQL.

    Scale shape: one shuffle on user_id; session merging is a per-key
    sorted pass. Above ``_SALT_ESCALATE_BYTES`` of events input the plan
    escalates to the salted two-phase formulation (VERDICT r8 item 5 —
    the hot-key probe measured task max/median 3.56 on the direct path
    with one user owning 30% of rows; the two-phase path splits that
    user across hour buckets). The threshold reads parquet file sizes
    from the filesystem — a metadata row-count proxy that costs no Spark
    job at build time (the eager-action lint's contract)."""
    e = table(spark, sf_dir, "events")
    if _events_input_bytes(spark, sf_dir) > _SALT_ESCALATE_BYTES:
        return _session_two_phase(e)
    sess = e.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    w = Window.partitionBy("user_id").orderBy("first_ts")
    return sess.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("sid"),
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        (
            F.unix_micros(F.col("last_ts")) - F.unix_micros(F.col("first_ts"))
        ).alias("span_us"),
    )


_SALT_ESCALATE_BYTES = 8 << 20  # ~8 MB of events parquet ≈ 0.4 M rows
_GAP_US = 1_800_000_000  # 30 minutes
_BUCKET_US = 3_600_000_000  # 1-hour salt buckets (>= gap, ~720/month)


def _events_input_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Size of the events table — the no-job escalation gate.

    Local paths use os.stat directly; non-local URIs (s3a://, hdfs://)
    fall back to the Hadoop FileSystem content summary — still a pure
    metadata call, no Spark job (ADVICE r9: the os.walk-only probe
    silently returned 0 on remote deployments, so the hot-key salted
    path never engaged and the plan shape became environment-dependent
    with no signal). A failed probe is logged at ERROR through the
    project logger (ADVICE r10: warnings.warn is too easily filtered for
    a signal that changes the executed plan shape), and 'path truly
    absent' is distinguished from 'probe raised' — an FS error is NOT
    evidence of an empty table, so it logs louder and names the
    exception."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            _LOG.warning(
                "session-window escalation size probe: %s does not exist; "
                "staying on the direct (unsalted) plan",
                path,
            )
            return 0
        return int(fs.getContentSummary(hpath).getLength())
    except Exception as exc:  # noqa: BLE001 — probe failure must not kill the query
        _LOG.error(
            "session-window escalation size probe RAISED on %s (%s: %s) — "
            "this is an FS error, not an empty table; staying on the direct "
            "(unsalted) plan, which may be the wrong shape at scale",
            path,
            type(exc).__name__,
            exc,
        )
        return 0


def _session_two_phase(e: DataFrame) -> DataFrame:
    """Salted two-phase sessionization (BENCH_SCALE.md hot-key escalation,
    now code): phase 1 sessionizes within (user_id, hour-bucket) so a hot
    user's rows spread across ~#hours window partitions instead of one;
    phase 2 merges fragments across bucket boundaries with the same
    30-min-gap islands rule over the FRAGMENT frame (aggregated — at most
    one fragment per session per touched bucket, so orders of magnitude
    smaller than events). Merging is exact for any bucket size because
    fragment adjacency in first_ts order is session adjacency:
    a fragment opens a new session iff its first event is >= 30 min after
    the previous fragment's last event — within-bucket splits already
    carry that property, boundary splits are re-examined here."""
    b = e.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.unix_micros("ts") / F.lit(_BUCKET_US)).alias("bkt"),
    )
    w1 = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    marked = b.withColumn("prev_ts", F.lag("ts").over(w1)).withColumn(
        "new_s",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_micros("ts") - F.unix_micros("prev_ts") >= _GAP_US),
            1,
        ).otherwise(0),
    )
    frag = (
        marked.withColumn(
            "s_in_b",
            F.sum("new_s").over(w1.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "bkt", "s_in_b")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )
    # fragments of one user never share first_ts (bkt is a function of ts,
    # in-bucket fragments are time-disjoint) -> total order
    w2 = Window.partitionBy("user_id").orderBy("first_ts")
    chained = frag.withColumn(
        "prev_last", F.lag("last_ts").over(w2)
    ).withColumn(
        "new_chain",
        F.when(
            F.col("prev_last").isNull()
            | (
                F.unix_micros("first_ts") - F.unix_micros("prev_last")
                >= _GAP_US
            ),
            1,
        ).otherwise(0),
    )
    sess = (
        chained.withColumn(
            "sid",
            F.sum("new_chain")
            .over(w2.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.sum("n").alias("n_events"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    )
    return sess.select(
        "user_id",
        "sid",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        (
            F.unix_micros(F.col("last_ts")) - F.unix_micros(F.col("first_ts"))
        ).alias("span_us"),
    )


@query(
    "maintenance_vacuum_orphans",
    oracle="""
    SELECT o_orderkey % 8 AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE o_orderkey % 8 IN (0, 2, 3, 5, 7)
    GROUP BY o_orderkey % 8
    """,
)
def maintenance_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven orphan vacuum — the table-format GC primitive:
    data lands bucketed on disk, a MANIFEST records which buckets the
    table logically owns, and vacuum deletes every directory the manifest
    does not reference (failed-write leftovers, dropped buckets). The
    read-back after vacuum must contain exactly the manifest's rows — the
    oracle is that subset.

    Scale shape: vacuum is driver-side metadata (one LIST, one DELETE per
    orphan) — row data is never read; the manifest join is a broadcast of
    a tiny keep-set."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.pmod("o_orderkey", F.lit(8)).alias("bucket")
    )
    root = os.path.join(scratch_dir("vacuum_"), "orders")
    o.write.mode("overwrite").partitionBy("bucket").parquet(root)
    manifest = {0, 2, 3, 5, 7}

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("bucket="):
            if int(name.split("=", 1)[1]) not in manifest:
                fs.delete(status.getPath(), True)

    back = spark.read.parquet(root)
    return back.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("revenue_cents"),
    )


@query(
    "mm_image_convolution",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS width, 16 + (doc_id * 3) % 16 AS height
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, width, height, UNNEST(RANGE(1, height - 1)) AS y FROM docs),
    px AS (SELECT doc_id, width, height, y, UNNEST(RANGE(1, width - 1)) AS x FROM ys),
    lap AS (
        SELECT doc_id, width, height,
               ((x - 1) * 7 + y * 13 + doc_id) % 256
             + ((x + 1) * 7 + y * 13 + doc_id) % 256
             + (x * 7 + (y - 1) * 13 + doc_id) % 256
             + (x * 7 + (y + 1) * 13 + doc_id) % 256
             - 4 * ((x * 7 + y * 13 + doc_id) % 256) AS v
        FROM px
    )
    SELECT doc_id,
           CAST((width - 2) * (height - 2) AS BIGINT) AS n_interior,
           CAST(SUM(ABS(v)) AS BIGINT) AS edge_energy
    FROM lap GROUP BY doc_id, width, height
    """,
)
def mm_image_convolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 2-D convolution over decoded image pixels: PNG bytes →
    stdlib decode → numpy Laplacian kernel (4-neighbor sum − 4·center)
    over the interior → per-image edge energy Σ|∇²|. The oracle replays
    the kernel analytically from the pixel formula, so a hash match
    proves decode + convolution are bit-exact — the feature-extraction
    stage of an image-dedup/quality pipeline, not a stub.

    Scale shape: Arrow-batched mapInPandas, one numpy vectorized kernel
    per image, decode+convolve parallel per partition; only 3 scalars per
    image leave Python."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def conv_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_ingestor_web_app_spark.llm.codecs import png_decode_gray

        for pdf in batches:
            rows = {"doc_id": [], "n_interior": [], "edge_energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                p = np.frombuffer(pix, dtype=np.uint8).astype(np.int64).reshape(h, w)
                lap = (
                    p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:]
                    - 4 * p[1:-1, 1:-1]
                )
                rows["doc_id"].append(doc_id)
                rows["n_interior"].append((w - 2) * (h - 2))
                rows["edge_energy"].append(int(np.abs(lap).sum()))
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(
        conv_batches, schema="doc_id long, n_interior long, edge_energy long"
    )


@query(
    "mm_audio_resample",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 800 + (doc_id % 10) * 80 AS n FROM documents
        WHERE doc_id < 200
    ),
    js AS (SELECT doc_id, n, UNNEST(RANGE(n // 2)) AS j FROM docs),
    pairs AS (
        SELECT doc_id, n,
               ((2 * j) * (doc_id + 7)) % 2048 - 1024 AS s0,
               ((2 * j + 1) * (doc_id + 7)) % 2048 - 1024 AS s1
        FROM js
    ),
    resampled AS (
        SELECT doc_id, n, CAST(FLOOR((s0 + s1) / 2.0) AS BIGINT) AS v
        FROM pairs
    )
    SELECT doc_id,
           CAST(MAX(n) // 2 AS BIGINT) AS n_out,
           CAST(SUM(v) AS BIGINT) AS sum_out,
           CAST(SUM(v * v) AS BIGINT) AS energy_out
    FROM resampled GROUP BY doc_id
    """,
)
def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resampling: PCM16 WAV bytes → stdlib decode → 2:1
    decimation with pair averaging (floor((s₂ⱼ+s₂ⱼ₊₁)/2) — the box
    anti-alias filter) → per-clip length/sum/energy. Oracle replays the
    decimation analytically from the sample formula; hash match proves
    decode + resample are sample-exact.

    Scale shape: same Arrow-batched mapInPandas posture as
    mm_image_convolution — numpy strided slicing per clip, 4 scalars out."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.multimodal import _audio_payloads

    payloads = _audio_payloads(spark, sf_dir)

    def resample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_ingestor_web_app_spark.llm.codecs import wav_decode_pcm16

        for pdf in batches:
            rows = {"doc_id": [], "n_out": [], "sum_out": [], "energy_out": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, _n_frames, samples = wav_decode_pcm16(bytes(payload))
                s = np.asarray(samples, dtype=np.int64)
                v = np.floor((s[0::2] + s[1::2]) / 2.0).astype(np.int64)
                rows["doc_id"].append(doc_id)
                rows["n_out"].append(len(v))
                rows["sum_out"].append(int(v.sum()))
                rows["energy_out"].append(int((v * v).sum()))
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(
        resample_batches, schema="doc_id long, n_out long, sum_out long, energy_out long"
    )


@query(
    "agg_session_window_salted",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    marked AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(prev_ts) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id, CAST(sid AS BIGINT) AS sid,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           CAST(EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS BIGINT) AS span_us
    FROM islands GROUP BY user_id, sid
    """,
)
def agg_session_window_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-phase sessionization FORCED (no size gate), pinned
    hash-exact against the same gaps-and-islands oracle as
    agg_session_window_batch — so the escalation path
    ``agg_session_window_batch`` takes above ``_SALT_ESCALATE_BYTES`` is
    itself oracle-verified at every SF, not just trusted at probe scale
    (VERDICT r8 item 5).

    Determinism: phase-1 windows total-order by (ts, event_id) inside
    (user, hour-bucket); phase-2 fragment merge orders by first_ts, which
    is unique per user across fragments.

    Scale shape: the expensive event-level windows partition by
    (user_id, hour-bucket) — a key owning 30% of a month's corpus becomes
    ~720 partitions; the cross-bucket merge windows run over the fragment
    aggregate (≤ one row per session per touched bucket)."""
    return _session_two_phase(table(spark, sf_dir, "events"))
