"""Wave-54: schema drift report, arrays_zip family, Herfindahl
concentration index.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "maintenance_schema_drift",
    oracle="""
    SELECT * FROM (VALUES
        ('o_comment',      'added',   NULL,     'string'),
        ('o_custkey',      'same',    'bigint', 'bigint'),
        ('o_orderdate',    'removed', 'timestamp_ntz', NULL),
        ('o_orderkey',     'same',    'bigint', 'bigint'),
        ('o_orderpriority','removed', 'string', NULL),
        ('o_orderstatus',  'same',    'string', 'string'),
        ('o_totalprice',   'retyped', 'double', 'decimal(18,2)')
    ) AS t(column_name, change, v1_type, v2_type)
    """,
)
def maintenance_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift report between two table versions — the schema-
    registry diff a pipeline runs before accepting a producer's new
    output: v2 adds a column, drops two, and retypes the money column to
    decimal; every column classifies as added / removed / retyped / same.
    Computed FROM THE ACTUAL PARQUET FOOTERS of two written tables (never
    from declared expectations — the point is catching what the producer
    really shipped); the oracle is the known ground truth.

    Scale shape: pure metadata — two footer reads, a tiny full-outer join
    on column name; zero row data touched."""
    o = table(spark, sf_dir, "orders")
    root = scratch_dir("schema_drift_")
    v1_dir = os.path.join(root, "v1")
    v2_dir = os.path.join(root, "v2")
    o.limit(10).write.mode("overwrite").parquet(v1_dir)
    (
        o.limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
            F.lit("restated").alias("o_comment"),
        )
        .write.mode("overwrite")
        .parquet(v2_dir)
    )
    v1 = spark.createDataFrame(
        [(f.name, f.dataType.simpleString()) for f in spark.read.parquet(v1_dir).schema],
        "column_name string, v1_type string",
    )
    v2 = spark.createDataFrame(
        [(f.name, f.dataType.simpleString()) for f in spark.read.parquet(v2_dir).schema],
        "column_name string, v2_type string",
    )
    j = v1.join(v2, "column_name", "full_outer")
    change = (
        F.when(F.col("v1_type").isNull(), "added")
        .when(F.col("v2_type").isNull(), "removed")
        .when(F.col("v1_type") != F.col("v2_type"), "retyped")
        .otherwise("same")
    )
    return j.select("column_name", change.alias("change"), "v1_type", "v2_type")


@query(
    "fn_arrays_zip",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               STRING_SPLIT(text, ' ')[1:5] AS toks
        FROM documents WHERE doc_id < 300
    ),
    z AS (
        SELECT doc_id, tok, i
        FROM (SELECT doc_id, UNNEST(toks) AS tok,
                     GENERATE_SUBSCRIPTS(toks, 1) AS i FROM t)
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, tok,
           CAST(LEN(tok) AS INT) AS tok_len,
           tok || '@' || CAST(i - 1 AS VARCHAR) AS tagged
    FROM z
    """,
)
def fn_arrays_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arrays_zip + inline: zip a token array with its per-element
    lengths and positions into an array of structs, then flatten with
    one generator — the idiom for carrying parallel arrays (tokens +
    embeddings + offsets) through a single explode without row
    misalignment.

    Scale shape: generator projection, no shuffle."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    t = d.select("doc_id", F.slice(F.split("text", " "), 1, 5).alias("toks"))
    zipped = t.select(
        "doc_id",
        F.arrays_zip(
            F.transform("toks", lambda tok, i: i).alias("pos"),
            F.col("toks").alias("tok"),
            F.transform("toks", lambda tok: F.length(tok)).alias("tok_len"),
        ).alias("z"),
    )
    return zipped.select("doc_id", F.inline("z")).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        "tok",
        F.col("tok_len").cast("int").alias("tok_len"),
        F.concat("tok", F.lit("@"), F.col("pos").cast("string")).alias("tagged"),
    )


@query(
    "agg_hhi_index",
    oracle="""
    WITH per AS (
        SELECT o_orderpriority AS market, o_custkey,
               COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority, o_custkey
    ),
    tot AS (
        SELECT market, CAST(SUM(n) AS BIGINT) AS nt FROM per GROUP BY market
    )
    SELECT p.market,
           COUNT(*) AS n_participants,
           ROUND(SUM((p.n * 1.0 / t.nt) * (p.n * 1.0 / t.nt)) * 10000, 4)
               AS hhi,
           ROUND(MAX(p.n * 1.0 / t.nt), 6) AS top_share
    FROM per p JOIN tot t ON t.market = p.market
    GROUP BY p.market
    """,
)
def agg_hhi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per market segment
    (priority class standing in for the market, customers as
    participants): HHI = 10000·Σ share², the antitrust-style
    concentration scalar — <1500 competitive, >2500 concentrated.
    Complements Gini (inequality) and top-1% share (headline cut) with
    the squared-share formulation.

    Determinism: shares are exact-integer ratios; Σ share² sums tiny
    positive doubles — noise ~10 orders under the 4dp rounding.

    Scale shape: two map-side-combined groupBys + a broadcast of the
    per-market totals."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_orderpriority").alias("market"), "o_custkey").agg(
        F.count("*").alias("n")
    )
    tot = per.groupBy("market").agg(F.sum("n").cast("long").alias("nt"))
    share = F.col("n") * 1.0 / F.col("nt")
    return (
        per.join(F.broadcast(tot), "market")
        .groupBy("market")
        .agg(
            F.count("*").alias("n_participants"),
            F.round(F.sum(share * share) * 10000, 4).alias("hhi"),
            F.round(F.max(share), 6).alias("top_share"),
        )
    )
