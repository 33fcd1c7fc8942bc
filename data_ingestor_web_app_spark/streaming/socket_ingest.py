"""Live TCP ingestion — reference R1 (/root/reference/main.go:199,220-257)
closed with a real socket source.

The reference is a TCP daemon: it listens, accepts connections, and turns
each payload into a LogEntry. Spark's role split is the inverse — the
`socket` streaming source CONNECTS to a data emitter — but the dataflow is
identical: bytes arrive over TCP, are framed into records, enriched by the
same R4-R10 projection (`ingest.records.to_logentries`), and fan out to
sinks. `tests/test_socket_ingest.py` reproduces the reference's
`echo 'test data' | nc` smoke (deploy.sh:174): it pushes bytes through a
real local TCP socket and asserts LogEntry-shaped rows come out.

Production posture: the socket source is single-connection/at-most-once —
Spark documents it as a dev tool. At 100 TB/day the same `to_logentries`
plan runs unchanged over a Kafka source (`readStream.format("kafka")`),
where partitions give parallelism and offsets give replay; the enrichment
is stateless, so the swap is purely the source line. This module keeps the
payload-shaping contract in one place so both sources share it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.ingest.records import to_logentries


def socket_payload_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Raw socket lines → the payload shape `to_logentries` expects.

    Framing parity with the reference: the socket source splits on
    newlines, the reference frames on read() chunks (main.go:287-296) —
    both deliver byte payloads in arrival order.

    Identity semantics (r5 ADVICE): the socket source multiplexes ONE
    dialed connection, so there is no per-connection counter or peer
    address to observe. The content hash is therefore named what it IS —
    ``payload_hash`` — and ``conn_id`` carries the same value ONLY as the
    content-key alias `to_logentries` requires: two records with identical
    payload bytes coalesce under it, and ``client_ip`` is the address this
    source dialed, not a peer. Downstream consumers that need true
    per-connection identity must use the listen-mode DataSource
    (`sources/tcp_listen.py`), which accepts real connections and stamps
    each record with its accept-loop connection ordinal and peer address —
    the faithful main.go:199-257 parity path. recv_ts is the arrival
    clock, exactly like the reference's time.Now() stamp (main.go:102) —
    live streams are the one place SURVEY §7's no-current_timestamp rule
    does not apply, because arrival time IS the datum."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return raw.select(
        F.xxhash64("value").alias("payload_hash"),
        # content key, NOT a connection id — see identity semantics above
        F.xxhash64("value").alias("conn_id"),
        F.col("value").cast("binary").alias("payload"),
        F.lit(f"{host}:{port}").alias("client_ip"),
        F.current_timestamp().alias("recv_ts"),
    )


def socket_logentry_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """R1 end-to-end: live TCP bytes → LogEntry records (R4-R10 enrichment,
    empty-payload drop included — main.go:298-301)."""
    return to_logentries(socket_payload_stream(spark, host, port))
