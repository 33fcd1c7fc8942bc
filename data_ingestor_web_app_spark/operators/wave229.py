"""Wave-229: columnar-encoding engineering audits — delta+zigzag+varint
cost, Morton (Z-curve) bit interleaving with self-inverse proof, and an
RLE/delta run audit on the sort order a parquet writer would use.

These are the layout decisions a 100 TB lakehouse makes per column: how
many bytes does delta+varint actually buy on a clustered key, is the
two-dimensional key worth Z-ordering, and how runnable is a column under
its writer sort. All three are exact integer/window computations — the
audit itself must be cheap enough to run inline at ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# varint length via exact integer thresholds (1 byte per 7 payload bits);
# a LOG2-based formula would hinge on float ulp at the 2^(7k) boundaries
_VARINT_STEPS = [1 << (7 * k) for k in range(1, 9)]


@query(
    "fn_zigzag_varint",
    oracle=f"""
    WITH ordered AS (
        SELECT l_returnflag, l_orderkey,
               l_orderkey - LAG(l_orderkey) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_orderkey, l_linenumber) AS delta
        FROM lineitem
    ),
    zz AS (
        SELECT l_returnflag,
               CASE WHEN delta IS NULL THEN xor(l_orderkey * 2, CASE WHEN l_orderkey < 0 THEN -1 ELSE 0 END)
                    ELSE xor(delta * 2, CASE WHEN delta < 0 THEN -1 ELSE 0 END)
               END AS z
        FROM ordered
    ),
    sized AS (
        SELECT l_returnflag, z,
               1 {' '.join(f"+ CASE WHEN z >= {s} THEN 1 ELSE 0 END" for s in _VARINT_STEPS)}
                   AS nbytes
        FROM zz
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(nbytes) AS BIGINT) AS varint_bytes,
           CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
           ROUND(SUM(nbytes) * 1e0 / (COUNT(*) * 8), 6) AS compression_ratio,
           ROUND(SUM(nbytes) * 8e0 / COUNT(*), 6) AS avg_bits_per_value
    FROM sized
    GROUP BY l_returnflag
    """,
)
def fn_zigzag_varint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta + zigzag + varint encoding cost of the order key under its
    writer sort (partition by returnflag, order by orderkey, linenumber):
    per group, the exact byte count the LEB128-style varint stream would
    occupy vs raw int64 — the estimate a format writer uses to pick
    DELTA_BINARY_PACKED over PLAIN.

    Zigzag is (d << 1) XOR (d >> 63) (arithmetic shift sign smear), so
    negative deltas map to small unsigned codes; varint length is the
    exact 7-bit-group count via integer threshold comparisons, never a
    float LOG2 (ulp-exact at the 2^(7k) boundaries by construction).

    Scale shape: one window sort per group — the SAME sort the writer
    performs anyway — then a map-side-combinable sum; no second shuffle.
    First row of each group encodes its absolute key (delta = key), the
    standard frame-of-reference start."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
    delta = F.coalesce(
        F.col("l_orderkey") - F.lag("l_orderkey").over(w), F.col("l_orderkey")
    )
    z = F.expr(
        "CAST(shiftleft(__d, 1) AS BIGINT) ^ CAST(shiftright(__d, 63) AS BIGINT)"
    )
    nbytes = F.lit(1)
    for s in _VARINT_STEPS:
        nbytes = nbytes + F.when(F.col("z") >= s, 1).otherwise(0)
    return (
        li.select("l_returnflag", delta.alias("__d"))
        .select("l_returnflag", z.alias("z"))
        .select("l_returnflag", nbytes.alias("nbytes"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_values"),
            F.sum("nbytes").cast("long").alias("varint_bytes"),
            (F.count("*") * 8).cast("long").alias("raw_bytes"),
            F.round(F.sum("nbytes") / (F.count("*") * 8.0), 6).alias(
                "compression_ratio"
            ),
            F.round(F.sum("nbytes") * 8.0 / F.count("*"), 6).alias(
                "avg_bits_per_value"
            ),
        )
    )


_MAGIC = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def _spread_sql(col: str) -> str:
    """16-bit -> 32-bit bit-spread (Morton helper), magic-number unrolled —
    identical integer ops in Spark SQL and DuckDB."""
    e = col
    for sh, mask in _MAGIC:
        e = f"(({e} | ({e} * {1 << sh})) & {mask})"
    return e


def _compact_sql(col: str) -> str:
    """Inverse of _spread_sql: 32-bit even-bit lanes -> 16-bit value."""
    e = f"({col} & 1431655765)"
    for sh, mask in [
        (1, 0x33333333),
        (2, 0x0F0F0F0F),
        (4, 0x00FF00FF),
        (8, 0x0000FFFF),
    ]:
        e = f"((({e} | ({e} // {1 << sh})) & {mask}))"
    return e


@query(
    "fn_morton_interleave",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey,
               c_custkey % 65536 AS x,
               (c_custkey * 2654435761) % 65536 AS y
        FROM customer WHERE c_custkey <= 200
    ),
    enc AS (
        SELECT c_custkey, x, y,
               {_spread_sql('x')} + 2 * {_spread_sql('y')} AS morton
        FROM pts
    )
    SELECT c_custkey, x, y, morton,
           {_compact_sql('morton')} = x
               AND {_compact_sql('(morton // 2)')} = y AS roundtrip_ok
    FROM enc
    """,
)
def fn_morton_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) code of a 2-D key: 16-bit x/y lanes bit-interleaved
    by the classic magic-number spread (4 shift-or-mask steps per lane,
    fully unrolled — pure int64 ops, exact in any engine), plus the
    inverse compaction re-deriving (x, y) from the code as a per-row
    self-inverse proof column.

    This is the Z-ordering primitive behind cluster_zorder /
    scan_zorder_locality_audit, exposed as a checkable scalar function:
    interleaving makes points close in (x, y) close in 1-D code order,
    which is what turns 2-D predicates into contiguous scan ranges at
    100 TB. Bounded output (custkey <= 200) keeps the check row-exact.

    Scale shape: stateless per-row projection inside the scan — no
    shuffle, codegen-friendly bit arithmetic."""
    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    pts = c.select(
        "c_custkey",
        (F.col("c_custkey") % 65536).alias("x"),
        ((F.col("c_custkey") * 2654435761) % 65536).alias("y"),
    )

    def spread(col: F.Column) -> F.Column:
        e = col
        for sh, mask in _MAGIC:
            e = (e.bitwiseOR(F.shiftleft(e, sh))).bitwiseAND(F.lit(mask))
        return e

    def compact(col: F.Column) -> F.Column:
        e = col.bitwiseAND(F.lit(0x55555555))
        for sh, mask in [
            (1, 0x33333333),
            (2, 0x0F0F0F0F),
            (4, 0x00FF00FF),
            (8, 0x0000FFFF),
        ]:
            e = (e.bitwiseOR(F.shiftrightunsigned(e, sh))).bitwiseAND(F.lit(mask))
        return e

    enc = pts.select(
        "c_custkey",
        "x",
        "y",
        (spread(F.col("x")) + 2 * spread(F.col("y"))).alias("morton"),
    )
    return enc.select(
        "c_custkey",
        "x",
        "y",
        "morton",
        (
            (compact(F.col("morton")) == F.col("x"))
            & (compact(F.shiftrightunsigned(F.col("morton"), 1)) == F.col("y"))
        ).alias("roundtrip_ok"),
    )


@query(
    "scan_rle_delta_audit",
    oracle="""
    WITH ordered AS (
        SELECT l_returnflag, l_shipdate,
               CASE WHEN l_shipdate = LAG(l_shipdate) OVER (
                        PARTITION BY l_returnflag ORDER BY l_shipdate)
                    THEN 0 ELSE 1 END AS run_start,
               DATEDIFF('day',
                        LAG(l_shipdate) OVER (
                            PARTITION BY l_returnflag ORDER BY l_shipdate),
                        l_shipdate) AS d_delta
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(run_start) AS BIGINT) AS n_runs,
           ROUND(COUNT(*) * 1e0 / SUM(run_start), 6) AS avg_run_len,
           CAST(COUNT(DISTINCT d_delta) AS BIGINT) AS n_distinct_deltas,
           CAST(MAX(d_delta) AS BIGINT) AS max_day_gap
    FROM ordered
    GROUP BY l_returnflag
    """,
)
def scan_rle_delta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length + delta audit of the ship-date column under its writer
    sort: runs of equal dates (what RLE_DICTIONARY collapses), the mean
    run length, the distinct day-delta alphabet (what DELTA encoding
    packs), and the largest gap — the numbers that decide a column's
    encoding in the file footer.

    Scale shape: one window per group on the writer's own sort order,
    then a map-side-combinable aggregate; the LAG(NULL) first row counts
    as a run start (run_start = 1 via the CASE miss), so runs partition
    the column exactly."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_shipdate")
    run_start = F.when(
        F.col("l_shipdate") == F.lag("l_shipdate").over(w), 0
    ).otherwise(1)
    d_delta = F.datediff(F.col("l_shipdate"), F.lag("l_shipdate").over(w))
    return (
        li.select("l_returnflag", "l_shipdate")
        .select(
            "l_returnflag",
            run_start.alias("run_start"),
            d_delta.alias("d_delta"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_values"),
            F.sum("run_start").cast("long").alias("n_runs"),
            F.round(F.count("*") / F.sum("run_start").cast("double"), 6).alias(
                "avg_run_len"
            ),
            F.count_distinct("d_delta").cast("long").alias("n_distinct_deltas"),
            F.max("d_delta").cast("long").alias("max_day_gap"),
        )
    )
