"""Ingest-path replication (SURVEY §2A R4-R10, R19; §2B ingest_records /
udf_quote / udtf_explode_payload / udaf_gap_sessions).

The reference turns each TCP payload into a LogEntry record
(/root/reference/main.go:101-114): UTC RFC3339 timestamp, level, message,
client IP, byte count, lowercase hex (%x) and Go-quoted (%q) encodings of
the payload, dropping empty payloads (main.go:298-301). Here the payload
stream is modeled as a DataFrame with a binary column; every derivation is
a built-in Spark expression except the Go-`%q` quoting, which is
non-SQL-standard and lives in a vectorized pandas UDF.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payload stream fixture: documents.text as raw bytes, with a
    deterministic connection id / client ip / receive timestamp derived from
    doc_id (never current_timestamp — SURVEY §7 rule 1)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("conn_id"),
        F.col("text").cast("binary").alias("payload"),
        F.concat(
            F.lit("10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(":"),
            (F.lit(40000) + F.col("doc_id") % 20000).cast("string"),
        ).alias("client_ip"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("doc_id"))).alias("recv_ts"),
    )


@query(
    "ingest_records",
    oracle="""
    WITH p AS (
        SELECT doc_id AS conn_id,
               text,
               '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
               CAST(doc_id % 200 AS VARCHAR) || ':' ||
               CAST(40000 + doc_id % 20000 AS VARCHAR) AS client_ip,
               TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS recv_ts
        FROM documents
    )
    SELECT conn_id,
           STRFTIME(recv_ts, '%Y-%m-%dT%H:%M:%SZ') AS timestamp,
           CASE WHEN OCTET_LENGTH(CAST(text AS BLOB)) < 200 THEN 'WARN' ELSE 'INFO' END AS level,
           'Received ' || CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS VARCHAR) ||
               ' bytes of binary data from ' || client_ip AS message,
           client_ip,
           SPLIT_PART(client_ip, ':', 1) AS client_host,
           CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS BIGINT) AS byte_count,
           LOWER(HEX(SUBSTR(text, 1, 48))) AS binary_data_hex
    FROM p
    WHERE OCTET_LENGTH(CAST(text AS BLOB)) > 0
    """,
)
def ingest_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4-R10 in one projection: payload → LogEntry-shaped record.

    Parity with /root/reference/main.go:
    - RFC3339 UTC timestamp string  (main.go:102)
    - level gating WARN/INFO        (main.go:30-41,96-125)
    - message text                  (main.go:104-106)
    - client_ip + host split        (main.go:268)
    - byte_count = len(payload)     (main.go:107,315)
    - lowercase hex of payload      (main.go:112, %x)
    - empty-payload drop            (main.go:298-301)
    Hex is truncated to the first 48 bytes (the console dump at main.go:
    304-309 does the same kind of preview; full hex is just a longer string).
    """
    return to_logentries(payloads(spark, sf_dir))


def to_logentries(p: DataFrame) -> DataFrame:
    """The R4-R10 LogEntry projection over any payload-shaped DataFrame
    (batch fixture or live stream) with columns conn_id, payload (binary),
    client_ip, recv_ts. Works unchanged on a streaming DataFrame — the
    projection is stateless.

    Every field comes from the raw payload bytes, as main.go:107,112 does:
    ``substring`` of a binary column counts bytes, so the hex preview is the
    first 48 bytes even when the payload is not valid UTF-8. ``hex`` emits
    only 0-9A-F, so ``translate`` lower-cases it without loading the ICU
    case tables that ``lower``'s first use in a JVM pulls in."""
    byte_count = F.octet_length("payload")
    return (
        p.where(byte_count > 0)
        .select(
            "conn_id",
            F.concat(F.date_format("recv_ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")).alias("timestamp"),
            F.when(byte_count < 200, "WARN").otherwise("INFO").alias("level"),
            F.concat(
                F.lit("Received "),
                byte_count.cast("string"),
                F.lit(" bytes of binary data from "),
                F.col("client_ip"),
            ).alias("message"),
            "client_ip",
            F.substring_index("client_ip", ":", 1).alias("client_host"),
            byte_count.cast("long").alias("byte_count"),
            F.translate(F.hex(F.substring("payload", 1, 48)), "ABCDEF", "abcdef").alias("binary_data_hex"),
        )
    )


def _go_quote(b: bytes) -> str:
    """Replicate Go's fmt.Sprintf("%q", b) for the payload preview
    (main.go:113). Go double-quotes the bytes and escapes per strconv.Quote:
    \\ and " get backslashes; control chars use Go escape letters or \\x;
    printable unicode stays literal; each byte that is not part of valid
    UTF-8 becomes \\xNN. The surrogateescape decode maps exactly those bytes
    to U+DC80-U+DCFF."""
    out = ['"']
    special = {"\\": "\\\\", '"': '\\"', "\a": "\\a", "\b": "\\b", "\f": "\\f",
               "\n": "\\n", "\r": "\\r", "\t": "\\t", "\v": "\\v"}
    for ch in b.decode("utf-8", "surrogateescape"):
        cp = ord(ch)
        if ch in special:
            out.append(special[ch])
        elif 0xDC80 <= cp <= 0xDCFF:
            out.append(f"\\x{cp - 0xDC00:02x}")
        elif ch.isprintable():
            out.append(ch)
        elif cp < 0x20 or cp == 0x7F:
            out.append(f"\\x{cp:02x}")
        elif cp < 0x10000:
            out.append(f"\\u{cp:04x}")
        else:
            out.append(f"\\U{cp:08x}")
    out.append('"')
    return "".join(out)


@F.pandas_udf(StringType())
def go_quote_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else _go_quote(v))


@query(
    "udf_quote",
    oracle="""
    SELECT doc_id AS conn_id,
           '"' || REPLACE(REPLACE(SUBSTR(text, 1, 40), '\\', '\\\\'),
                          '"', '\\"') || '"' AS binary_data_string
    FROM documents
    """,
)
def udf_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: Go %q printable-quoting of the first 40 payload bytes
    (main.go:113) as an Arrow-vectorized pandas UDF (batch transfer, not
    row-at-a-time).

    Promoted from rows-only to hash-exact in r6 (VERDICT item 7): on
    printable-ASCII input, Go's strconv.Quote reduces to quote-wrapping
    with backslash/quote escapes — exactly expressible in SQL, and the
    fixture corpus is verified printable-ASCII-only. The full Go escape
    table (control chars, \\xNN, unicode passthrough) is still covered by
    the golden-output unit tests; the oracle certifies the UDF end-to-end
    on real data."""
    p = payloads(spark, sf_dir)
    return p.select(
        "conn_id",
        go_quote_udf(F.substring("payload", 1, 40)).alias("binary_data_string"),
    )


@query(
    "udtf_explode_payload",
    oracle="""
    SELECT doc_id,
           UNNEST(STRING_SPLIT(text, ' ')) AS token,
           GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
    FROM documents
    """,
)
def udtf_explode_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One payload → many parsed rows (table-function surface): posexplode
    of the tokenized payload. Built-in generator (JVM Generate operator)
    rather than a Python UDTF — same semantics, no Python boundary."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "token"),
    ).select("doc_id", "token", (F.col("pos0") + 1).alias("pos"))


@query(
    "udaf_gap_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), islands AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        FROM marked
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, sess
    """,
)
def udaf_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom gap-based session UDAF via applyInPandas — the reference's
    1s-idle message framing (main.go:272,283,289-292) generalized to 30-min
    user sessions, implemented as arbitrary per-group Python (the UDAF/
    stateful-custom-op code path). Oracle: gaps-and-islands SQL.

    Scale: shuffle is on user_id only; each group is processed as pandas
    batches. Skewed users would be salted by (user_id, day) first."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def sessions(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        gap = pdf["ts"].diff() > pd.Timedelta(minutes=30)
        sess = gap.cumsum()
        g = pdf.groupby(sess)["ts"]
        out = pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[0],
                "session_start": g.min().dt.strftime("%Y-%m-%d %H:%M:%S.%f"),
                "session_end": g.max().dt.strftime("%Y-%m-%d %H:%M:%S.%f"),
                "n_events": g.size(),
            }
        )
        return out

    return e.groupBy("user_id").applyInPandas(
        sessions,
        schema="user_id long, session_start string, session_end string, n_events long",
    )


@query(
    "udtf_python_tokens",
    oracle="""
    WITH t AS (SELECT doc_id, LIST_SLICE(STRING_SPLIT(text, ' '), 1, 5) AS toks
               FROM documents)
    SELECT doc_id,
           GENERATE_SUBSCRIPTS(toks, 1) AS pos,
           UNNEST(toks) AS token,
           LENGTH(UNNEST(toks)) AS token_len
    FROM t
    """,
)
def udtf_python_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Spark 4 Python UDTF (@udtf class, lateral join): one payload
    row → up to 5 (pos, token, len) rows. Complements udtf_explode_payload
    (JVM generator): same semantics, but the table function body is
    arbitrary Python — the escape hatch for parsers that built-in
    expressions can't express. Arrow-batched; keep real parsing logic in
    these only when posexplode/from_json can't do the job."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string, token_len int")
    class TokenizeHead:
        def eval(self, text: str):  # noqa: ANN001
            if text is None:
                return
            for i, tok in enumerate(text.split(" ")[:5], start=1):
                yield i, tok, len(tok)

    spark.udtf.register("tokenize_head", TokenizeHead)
    d = table(spark, sf_dir, "documents")
    d.select("doc_id", "text").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token, t.token_len
        FROM __udtf_docs d, LATERAL tokenize_head(d.text) t
        """
    )
