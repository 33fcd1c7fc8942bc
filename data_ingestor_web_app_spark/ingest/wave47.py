"""Wave-47: ingest-domain network analytics — subnet rollups, connection
rates, level-gate audit.

The reference is a TCP ingest server; these are the observability
queries its operators would run over the enriched LogEntry stream
(ingest/records.py): who talks from where (/24 rollups), how hot each
connection runs, and what the WARN/INFO level gate is actually doing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.registry import query


@query(
    "ingest_subnet_rollup",
    oracle="""
    WITH p AS (
        SELECT doc_id AS conn_id,
               OCTET_LENGTH(CAST(text AS BLOB)) AS byte_count,
               '10.0.' || CAST(doc_id % 256 AS VARCHAR) AS subnet24,
               doc_id % 200 AS host_octet
        FROM documents
        WHERE OCTET_LENGTH(CAST(text AS BLOB)) > 0
    )
    SELECT subnet24,
           COUNT(*) AS n_messages,
           COUNT(DISTINCT host_octet) AS n_hosts,
           CAST(SUM(byte_count) AS BIGINT) AS total_bytes,
           CAST(MAX(byte_count) AS BIGINT) AS max_message_bytes
    FROM p GROUP BY subnet24
    """,
)
def ingest_subnet_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/24 subnet traffic rollup over the enriched ingest stream: message
    counts, distinct hosts, byte totals per subnet — the 'who is talking'
    view an ingest operator keeps open (reference/main.go:268 captures
    the RemoteAddr this parses). IP parsing is pure string ops on the
    client_ip column — split host:port, take the first three octets.

    Scale shape: one scan of the log projection, one map-side-combined
    groupBy(subnet) — cardinality bounded at 2^24."""
    from data_ingestor_web_app_spark.ingest.records import payloads, to_logentries

    log = to_logentries(payloads(spark, sf_dir))
    host = F.split_part(F.col("client_ip"), F.lit(":"), F.lit(1))
    subnet = F.concat_ws(
        ".",
        F.split_part(host, F.lit("."), F.lit(1)),
        F.split_part(host, F.lit("."), F.lit(2)),
        F.split_part(host, F.lit("."), F.lit(3)),
    )
    host_octet = F.split_part(host, F.lit("."), F.lit(4)).cast("long")
    return (
        log.select(subnet.alias("subnet24"), host_octet.alias("host_octet"), "byte_count")
        .groupBy("subnet24")
        .agg(
            F.count("*").alias("n_messages"),
            F.countDistinct("host_octet").alias("n_hosts"),
            F.sum("byte_count").cast("long").alias("total_bytes"),
            F.max("byte_count").cast("long").alias("max_message_bytes"),
        )
    )


@query(
    "ingest_connection_rates",
    oracle="""
    WITH p AS (
        SELECT doc_id % 64 AS worker,
               OCTET_LENGTH(CAST(text AS BLOB)) AS byte_count
        FROM documents
        WHERE OCTET_LENGTH(CAST(text AS BLOB)) > 0
    )
    SELECT worker,
           COUNT(*) AS n_conns,
           CAST(SUM(byte_count) AS BIGINT) AS bytes_handled,
           ROUND(AVG(byte_count), 4) AS avg_message_bytes,
           CAST(MAX(byte_count) AS BIGINT) AS largest
    FROM p GROUP BY worker
    """,
)
def ingest_connection_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worker-pool load report (reference/main.go's 100-worker semaphore,
    R17): connections hash to workers (conn_id mod 64 here), and the
    report shows per-worker connection counts and byte throughput — the
    balance check that tells you whether the pool needs resizing or the
    hash is skewed.

    Scale shape: one map-side-combined groupBy over a 64-row key space —
    the shuffle carries 64 rows regardless of corpus size."""
    from data_ingestor_web_app_spark.ingest.records import payloads, to_logentries

    log = to_logentries(payloads(spark, sf_dir))
    return (
        log.select((F.col("conn_id") % 64).alias("worker"), "byte_count")
        .groupBy("worker")
        .agg(
            F.count("*").alias("n_conns"),
            F.sum("byte_count").cast("long").alias("bytes_handled"),
            F.round(F.avg("byte_count"), 4).alias("avg_message_bytes"),
            F.max("byte_count").cast("long").alias("largest"),
        )
    )


@query(
    "ingest_level_gate_audit",
    oracle="""
    WITH p AS (
        SELECT CASE WHEN OCTET_LENGTH(CAST(text AS BLOB)) < 200
                    THEN 'WARN' ELSE 'INFO' END AS level,
               OCTET_LENGTH(CAST(text AS BLOB)) AS byte_count
        FROM documents
        WHERE OCTET_LENGTH(CAST(text AS BLOB)) > 0
    )
    SELECT level,
           COUNT(*) AS n,
           CAST(MIN(byte_count) AS BIGINT) AS min_bytes,
           CAST(MAX(byte_count) AS BIGINT) AS max_bytes,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
    FROM p GROUP BY level
    """,
)
def ingest_level_gate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-gate audit (reference/main.go:30-41: messages below the size
    threshold log WARN, the rest INFO): per-level counts, byte ranges,
    and traffic share — the sanity check that the gate threshold still
    splits traffic the way ops expects after a payload-size drift.

    Scale shape: one grouped pass; the share normalizer is a broadcast
    scalar (never an unpartitioned window, even over 2 rows)."""
    from data_ingestor_web_app_spark.ingest.records import payloads, to_logentries

    log = to_logentries(payloads(spark, sf_dir))
    agg = log.groupBy("level").agg(
        F.count("*").alias("n"),
        F.min("byte_count").cast("long").alias("min_bytes"),
        F.max("byte_count").cast("long").alias("max_bytes"),
    )
    tot = agg.agg(F.sum("n").alias("nt"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "level",
        "n",
        "min_bytes",
        "max_bytes",
        F.round(F.col("n") * 1.0 / F.col("nt"), 6).alias("share"),
    )
