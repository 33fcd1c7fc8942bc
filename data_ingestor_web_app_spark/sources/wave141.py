"""Wave-141: catalog/table-API surface — managed tables, SQL UDF DDL,
global temp views, and the rate streaming source.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query

_counter = itertools.count()


@query(
    "source_managed_table",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def source_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table catalog round-trip: nation saved with saveAsTable
    into the session warehouse (spark-warehouse/, parquet under catalog
    control), read back through spark.table() by NAME — the catalog
    indirection every metastore-backed deployment uses instead of paths
    — and verified present via the catalog API. Dropped and recreated
    idempotently per run.

    Determinism: the round-trip carries exact ints/strings; the oracle
    is the source projection, so hash equality proves catalog-addressed
    storage is lossless.

    Scale shape: a catalog lookup plus the same parquet scan a path read
    does; managed vs external changes WHO owns the files, not the plan."""
    name = f"mt_nation_{next(_counter)}_{id(spark) % 10000}"
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    n.write.saveAsTable(name)
    assert any(t.name == name for t in spark.catalog.listTables())
    out = spark.table(name).select("n_nationkey", "n_name", "n_regionkey")
    return out


@query(
    "fn_sql_udf_create",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def fn_sql_udf_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDFs via DDL (Spark 4 `CREATE FUNCTION ... RETURN
    expr`): the pricing expressions live as named catalog functions —
    the governed way analysts share logic without shipping Python — and
    the optimizer INLINES the body, so the plan is identical to writing
    the expression by hand (no UDF boundary, full codegen). The oracle
    inlines the same bodies, proving the DDL surface changes nothing
    semantically. Outputs stay unrounded doubles (the repo's
    project_compute rule: identical chains are bit-exact, ROUND is the
    cross-engine hazard).

    Scale shape: pure projection; SQL UDFs are zero-cost abstraction
    (unlike Python UDFs, which serialize)."""
    i = next(_counter)
    fn1, fn2 = f"disc_price_{i}", f"charged_{i}"
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fn1}(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fn2}(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(f"li_udf_{i}")
    return spark.sql(
        f"""
        SELECT l_orderkey, l_linenumber,
               {fn1}(l_extendedprice, l_discount) AS disc_price,
               {fn2}(l_extendedprice, l_discount, l_tax) AS charged
        FROM li_udf_{i} WHERE l_orderkey < 1000
        """
    )


@query(
    "source_global_temp_view",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
    FROM events GROUP BY event_type
    """,
)
def source_global_temp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global temp views: events registered in the cross-session
    `global_temp` database and queried through its qualified name — the
    sharing mechanism between Spark sessions of one application (a
    notebook handing a frame to a job thread). Session-local temp views
    (used throughout this repo) die with their session; global ones
    outlive it.

    Scale shape: a view is a named plan — the aggregate below compiles
    exactly as if written against the source."""
    i = next(_counter)
    name = f"gt_events_{i}"
    table(spark, sf_dir, "events").createOrReplaceGlobalTempView(name)
    return spark.sql(
        f"""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        FROM global_temp.{name} GROUP BY event_type
        """
    )


@query(
    "stream_rate_source_smoke",
    oracle="""
    SELECT CAST(range AS BIGINT) AS seq,
           CAST(range % 97 AS BIGINT) AS payload_mod,
           CAST(8 + LENGTH(CAST(range AS VARCHAR)) AS BIGINT) AS n_chars
    FROM RANGE(200)
    """,
)  # rows-only: wall-clock generator
def stream_rate_source_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `rate` streaming source — Spark's built-in load generator
    (monotonic timestamp + value rows at rowsPerSecond) — driven through
    the LogEntry-style enrichment and drained to memory. The source every
    streaming load test starts from.

    Promoted from rows-only to hash-exact in r7: the generator's VALUE
    sequence always starts at 0 and micro-batches commit complete value
    prefixes, so draining until >= 200 rows and returning exactly the
    seq < 200 prefix is fully deterministic — the oracle regenerates the
    200 rows analytically from RANGE(200). Wall-clock only decides HOW
    LONG the drain takes, never what the checked rows contain.

    Scale shape: partitioned generator (numPartitions), no input I/O."""
    import tempfile
    import time

    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .option("numPartitions", 4)
        .load()
        .select(
            F.col("value").alias("seq"),
            (F.col("value") % 97).alias("payload_mod"),
            F.length(F.concat(F.lit("payload-"), F.col("value"))).alias("n_chars"),
        )
    )
    name = f"rate_smoke_{next(_counter)}"
    q = (
        raw.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", scratch_dir("rate_ckpt_"))
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.table(name).count() >= 200:
            break
        time.sleep(0.25)
    q.stop()
    got = spark.table(name).count()
    if got < 200:
        # Fail loudly on an environment stall rather than as an opaque
        # downstream hash mismatch (<200 rows means the rate source never
        # reached seq 200 within the 60 s drain window on this box).
        raise RuntimeError(
            f"rate-source drain stalled: {got} rows after 60 s (need >=200); "
            "environment too contended for the smoke deadline"
        )
    return (
        spark.table(name)
        .where(F.col("seq") < 200)
        .select(
            F.col("seq").cast("long").alias("seq"),
            F.col("payload_mod").cast("long").alias("payload_mod"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )
