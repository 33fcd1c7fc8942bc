"""Golden tests for the ingest replication path (reference R4-R10, R6 %q).

Fixed fake payload bytes → exact expected LogEntry rows, mirroring the
reference's manual smoke test `echo 'test data' | nc $SERVER_IP 80`
(/root/reference/deploy.sh:174).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestor_web_app_spark.ingest.records import _go_quote, go_quote_udf


def test_go_quote_goldens():
    # goldens match Go: fmt.Sprintf("%q", b) over the payload bytes
    assert _go_quote(b"test data") == '"test data"'
    assert _go_quote(b'say "hi"') == '"say \\"hi\\""'
    assert _go_quote(b"a\\b") == '"a\\\\b"'
    assert _go_quote(b"tab\there\nnewline") == '"tab\\there\\nnewline"'
    assert _go_quote(b"\x00\x1f") == '"\\x00\\x1f"'
    assert _go_quote("héllo".encode()) == '"héllo"'  # printable unicode stays literal
    assert _go_quote(b"") == '""'
    # bytes that are not valid UTF-8 get Go's per-byte \xNN escape
    assert _go_quote(b"\xff\x00\x10\x80GPS") == '"\\xff\\x00\\x10\\x80GPS"'
    assert _go_quote("é".encode()[:1]) == '"\\xc3"'
    # non-printable runes above U+007F use \u, as strconv.Quote does
    assert _go_quote("\u0085\u00a0".encode()) == '"\\u0085\\u00a0"'


def test_go_quote_udf_matches_python(spark):
    vals = [b"test data", b'q"uote', b"a\tb", b"", "ünïcode".encode(), b"\xff\x00\x10\x80GPS"]
    df = spark.createDataFrame([(i, bytearray(v)) for i, v in enumerate(vals)], "i int, b binary")
    out = {r["i"]: r["q"] for r in df.select("i", go_quote_udf("b").alias("q")).collect()}
    for i, v in enumerate(vals):
        assert out[i] == _go_quote(v)


def test_udf_quote_cuts_at_byte_40(spark, tmp_path):
    """udf_quote quotes the first 40 payload BYTES: a two-byte rune that
    straddles byte 40 leaves its lead byte, which Go prints as \\xNN."""
    from data_ingestor_web_app_spark.ingest.records import udf_quote

    text = "a" * 39 + "é"
    spark.createDataFrame([(1, text)], "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    (row,) = udf_quote(spark, str(tmp_path)).collect()
    assert row["binary_data_string"] == '"' + "a" * 39 + '\\xc3"'


def test_ingest_record_golden(spark):
    """One fixed payload through the R4-R10 projection (hex lowercase per
    main.go:112 %x, byte count per main.go:107, empty-drop per 298-301)."""
    df = spark.createDataFrame([("test data",), ("",)], "payload_str string")
    rec = (
        df.select(F.col("payload_str").cast("binary").alias("payload"), "payload_str")
        .where(F.octet_length("payload") > 0)
        .select(
            F.octet_length("payload").alias("byte_count"),
            F.lower(F.hex("payload")).alias("hex"),
        )
        .collect()
    )
    assert len(rec) == 1  # empty payload dropped
    assert rec[0]["byte_count"] == 9
    assert rec[0]["hex"] == "746573742064617461"  # `echo -n 'test data' | xxd -p`


def test_logentry_hex_is_raw_byte_prefix(spark):
    """Batch to_logentries hex-encodes the first 48 payload BYTES (main.go:112
    %x over the raw bytes): invalid UTF-8 is kept byte for byte, and a
    multi-byte text is cut at 48 bytes, not 48 characters."""
    from data_ingestor_web_app_spark.ingest.records import to_logentries

    non_utf8 = b"\xff\x00\x10\x80GPS"
    multibyte = ("héllo wörld" * 10).encode()
    df = spark.createDataFrame(
        [(1, bytearray(non_utf8)), (2, bytearray(multibyte))], "conn_id long, payload binary"
    ).select(
        "conn_id",
        "payload",
        F.lit("10.0.0.1:4000").alias("client_ip"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("recv_ts"),
    )
    got = {r["conn_id"]: r for r in to_logentries(df).collect()}
    assert got[1]["binary_data_hex"] == "ff001080475053"
    assert got[1]["byte_count"] == 7
    assert got[2]["binary_data_hex"] == multibyte[:48].hex()
    assert len(got[2]["binary_data_hex"]) == 96
    assert got[2]["byte_count"] == len(multibyte)


def test_hex_roundtrip_properties(spark):
    """Property: decode(unhex(lower(hex(x)))) == x for printable strings
    (SURVEY §5 property-based checks; inputs batched into one DataFrame)."""
    from hypothesis import given, settings, strategies as st

    samples: list[str] = []

    @settings(max_examples=50, deadline=None)
    @given(st.text(alphabet=st.characters(codec="utf-8"), min_size=0, max_size=40))
    def collect(s):
        samples.append(s)

    collect()
    df = spark.createDataFrame([(s,) for s in samples if s], "s string")
    bad = (
        df.select(
            "s",
            F.decode(F.unhex(F.lower(F.hex(F.encode(F.col("s"), "UTF-8")))), "UTF-8").alias("rt"),
        )
        .where(F.col("s") != F.col("rt"))
        .count()
    )
    assert bad == 0


def test_date_arithmetic_properties(spark):
    """Property: datediff(date_add(d, k), d) == k over random dates/offsets."""
    from hypothesis import given, settings, strategies as st

    cases: list[tuple[str, int]] = []

    @settings(max_examples=80, deadline=None)
    @given(
        st.dates(min_value=__import__("datetime").date(1980, 1, 1),
                 max_value=__import__("datetime").date(2100, 1, 1)),
        st.integers(min_value=-5000, max_value=5000),
    )
    def collect(d, k):
        cases.append((d.isoformat(), k))

    collect()
    df = spark.createDataFrame(cases, "d string, k int")
    bad = (
        df.select(
            F.datediff(F.date_add(F.col("d").cast("date"), F.col("k")), F.col("d").cast("date")).alias("dd"),
            "k",
        )
        .where(F.col("dd") != F.col("k"))
        .count()
    )
    assert bad == 0


def test_split_concat_properties(spark):
    """Property: split_part(concat_ws('|', a, b), '|', i) round-trips for
    separator-free strings."""
    from hypothesis import given, settings, strategies as st

    alphabet = st.characters(codec="utf-8", exclude_characters="|")
    cases: list[tuple[str, str]] = []

    @settings(max_examples=60, deadline=None)
    @given(st.text(alphabet=alphabet, min_size=1, max_size=20),
           st.text(alphabet=alphabet, min_size=1, max_size=20))
    def collect(a, b):
        cases.append((a, b))

    collect()
    df = spark.createDataFrame(cases, "a string, b string")
    joined = F.concat_ws("|", "a", "b")
    bad = (
        df.select(
            "a",
            "b",
            F.split_part(joined, F.lit("|"), F.lit(1)).alias("p1"),
            F.split_part(joined, F.lit("|"), F.lit(2)).alias("p2"),
        )
        .where((F.col("p1") != F.col("a")) | (F.col("p2") != F.col("b")))
        .count()
    )
    assert bad == 0


def test_floor_ceil_round_properties(spark):
    """Property: floor(x) <= x <= ceil(x); unhex∘hex identity on longs."""
    from hypothesis import given, settings, strategies as st

    vals: list[float] = []

    @settings(max_examples=80, deadline=None)
    @given(st.floats(min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False))
    def collect(x):
        vals.append(x)

    collect()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    bad = (
        df.where(~((F.floor("x") <= F.col("x")) & (F.col("x") <= F.ceil("x"))))
        .count()
    )
    assert bad == 0


def test_batch_observation_metrics(spark, sf_small):
    """R15/R16 batch analogue via the Observation API: global counters
    (records, bytes, WARN count) ride the ingest job itself — collected by
    the driver from task metrics at action time, no second pass over the
    data (the streaming twin is stream_metrics_observe)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from data_ingestor_web_app_spark.registry import QUERIES

    obs = Observation("ingest_totals")
    df = QUERIES["ingest_records"](spark, sf_small).observe(
        obs,
        F.count(F.lit(1)).alias("n_records"),
        F.sum("byte_count").alias("total_bytes"),
        F.sum(F.when(F.col("level") == "WARN", 1).otherwise(0)).alias("n_warn"),
    )
    rows = df.collect()  # one action drives both the result and the metrics
    got = obs.get
    assert got["n_records"] == len(rows)
    assert got["total_bytes"] == sum(r["byte_count"] for r in rows)
    assert got["n_warn"] == sum(1 for r in rows if r["level"] == "WARN")
