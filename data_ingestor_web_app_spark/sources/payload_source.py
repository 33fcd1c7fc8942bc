"""Custom Python DataSource: a deterministic batch generator of the
reference's payload records. The live TCP listener is
``sources/tcp_listen.py``.

The reference accepts opaque byte payloads over TCP, one per connection,
tagged with a connection id and client address. `PayloadDataSource`
generates the same record shape deterministically (seeded by row index, so
oracle-checkable); partitions play the role of the reference's worker pool
(main.go:172-187) — each partition generates/ingests its slice
independently, which is exactly how a real socket/Kafka source parallelizes
across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from data_ingestor_web_app_spark.registry import query

N_DEFAULT_ROWS = 1000
N_PARTITIONS = 8


class _Slice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class PayloadReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("rows", N_DEFAULT_ROWS))

    def partitions(self):
        step = (self.n_rows + N_PARTITIONS - 1) // N_PARTITIONS
        return [
            _Slice(i, min(i + step, self.n_rows))
            for i in range(0, self.n_rows, step)
        ]

    def read(self, partition: _Slice):
        for i in range(partition.start, partition.end):
            payload = (f"payload-{i}:" * (i % 5 + 1)).encode()
            client_ip = f"10.0.{i % 256}.{i % 200}:{40000 + i % 20000}"
            yield (i, client_ip, payload)


class PayloadDataSource(DataSource):
    """format("payloadgen"), options: rows=<n>."""

    @classmethod
    def name(cls) -> str:
        return "payloadgen"

    def schema(self) -> str:
        return "conn_id bigint, client_ip string, payload binary"

    def reader(self, schema) -> PayloadReader:  # noqa: ARG002
        return PayloadReader(self.options)


_registered_for: set[int] = set()


def register(spark: SparkSession) -> None:
    if id(spark) not in _registered_for:
        spark.dataSource.register(PayloadDataSource)
        _registered_for.add(id(spark))


@query(
    "source_python_datasource",
    oracle="""
    WITH gen AS (
        SELECT i AS conn_id,
               '10.0.' || CAST(i % 256 AS VARCHAR) || '.' || CAST(i % 200 AS VARCHAR)
                   || ':' || CAST(40000 + i % 20000 AS VARCHAR) AS client_ip,
               REPEAT('payload-' || CAST(i AS VARCHAR) || ':', i % 5 + 1) AS payload_str
        FROM RANGE(1000) t(i)
    )
    SELECT conn_id, client_ip,
           CAST(OCTET_LENGTH(CAST(payload_str AS BLOB)) AS BIGINT) AS byte_count,
           LOWER(HEX(SUBSTR(payload_str, 1, 16))) AS payload_hex
    FROM gen
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """Read from the custom payloadgen source and apply the reference's
    enrichment (byte count main.go:107, lowercase hex main.go:112). The
    oracle regenerates the same deterministic records in SQL over RANGE —
    proving the source's partition-parallel generation is value-correct."""
    register(spark)
    src = spark.read.format("payloadgen").option("rows", 1000).load()
    return src.select(
        "conn_id",
        "client_ip",
        F.octet_length("payload").cast("long").alias("byte_count"),
        F.lower(F.hex(F.substring(F.col("payload").cast("string"), 1, 16).cast("binary"))).alias("payload_hex"),
    )
