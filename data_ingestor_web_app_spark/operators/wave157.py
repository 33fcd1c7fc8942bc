"""Wave-157: border/periodicity detection over token arrays and a
Z-order vs row-major locality audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_border_periodicity",
    oracle="""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE doc_id < 200
    ),
    borders AS (
        SELECT doc_id, n, k
        FROM (SELECT doc_id, toks, n, UNNEST(RANGE(1, n)) AS k FROM t)
        WHERE toks[1:k] = toks[n - k + 1:n]
    ),
    mb AS (
        SELECT t.doc_id, t.n,
               COALESCE(MAX(b.k), 0) AS border
        FROM t LEFT JOIN borders b USING (doc_id)
        GROUP BY t.doc_id, t.n
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(border AS BIGINT) AS max_border,
           CAST(n - border AS BIGINT) AS period,
           CASE WHEN 2 * border >= n THEN TRUE ELSE FALSE END AS is_periodic
    FROM mb
    """,
)
def text_border_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Border function / periodicity detection (the KMP failure-function
    quantity; Fine & Wilf's periodicity lemma, public): per document,
    the longest proper prefix that is also a suffix; period = n − border,
    and a border ≥ n/2 certifies the document is (a prefix of) a
    repeated template — the stringology route to boilerplate detection,
    complementing the hash-based dedup family with an exact structural
    test.

    Determinism: token-array slice equality is exact in both engines;
    the max over candidate borders is integer.

    Scale shape: per-row array comparisons (O(n) slices of O(n) cost on
    ~100-token docs), no shuffle — another zero-exchange text
    operator."""
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    border = F.expr(
        "coalesce(array_max(filter(sequence(1, n - 1), "
        "k -> slice(toks, 1, k) = slice(toks, n - k + 1, k))), 0)"
    )
    b = d.select("doc_id", "n", border.alias("border"))
    return b.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("border").cast("long").alias("max_border"),
        (F.col("n") - F.col("border")).cast("long").alias("period"),
        (2 * F.col("border") >= F.col("n")).alias("is_periodic"),
    )


def _morton_sql(xc: str, yc: str) -> str:
    return " + ".join(
        f"(({xc} // {1 << i}) % 2) * {1 << (2 * i)}"
        f" + (({yc} // {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(4)
    )


@query(
    "scan_zorder_locality_audit",
    oracle=f"""
    WITH xs AS (SELECT UNNEST(RANGE(16)) AS x),
    cells AS (SELECT x, y FROM (SELECT x, UNNEST(RANGE(16)) AS y FROM xs)),
    keys AS (
        SELECT x, y,
               CAST(x * 16 + y AS BIGINT) AS rowmajor,
               CAST({_morton_sql("x", "y")} AS BIGINT) AS morton
        FROM cells
    ),
    tiles AS (
        SELECT x // 4 AS tx, y // 4 AS ty,
               MAX(rowmajor) - MIN(rowmajor) + 1 AS rspan,
               MAX(morton) - MIN(morton) + 1 AS mspan
        FROM keys GROUP BY tx, ty
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(rspan) AS BIGINT) AS rowmajor_span_sum,
           CAST(SUM(mspan) AS BIGINT) AS morton_span_sum,
           ROUND(SUM(rspan) * 1e0 / SUM(mspan), 6) AS locality_gain
    FROM tiles
    """,
)
def scan_zorder_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY Z-ordering works, measured (Morton 1966, public): over a 16×16
    grid, each aligned 4×4 query tile's KEY-RANGE SPAN (max−min+1 — the
    bytes a zone-mapped scan must touch) under row-major keys vs Morton
    keys. Morton tiles are perfectly contiguous (span 16); row-major
    tiles span 52 — a 3.25× pruning gain, which is exactly why
    cluster_zorder's file-level min/max zone maps prune 2-d range
    predicates and row-major layouts don't. (Mean neighbor key-distance,
    the naive metric, is IDENTICAL for both encodings — 4080 on this
    grid — which is why the span metric is the honest one.)

    Determinism: pure integer bit arithmetic on a literal grid.

    Scale shape: constant-size audit (the grid is the key-encoding's
    domain model, not data)."""
    xs = spark.range(16).select(F.col("id").cast("int").alias("x"))
    ys = spark.range(16).select(F.col("id").cast("int").alias("y"))
    cells = xs.crossJoin(ys)
    morton = sum(
        ((F.col("x") / (1 << i)).cast("long") % 2) * (1 << (2 * i))
        + ((F.col("y") / (1 << i)).cast("long") % 2) * (1 << (2 * i + 1))
        for i in range(4)
    )
    keys = cells.select(
        "x",
        "y",
        (F.col("x") * 16 + F.col("y")).cast("long").alias("rowmajor"),
        morton.cast("long").alias("morton"),
    )
    tiles = keys.groupBy(
        F.floor(F.col("x") / 4).alias("tx"), F.floor(F.col("y") / 4).alias("ty")
    ).agg(
        (F.max("rowmajor") - F.min("rowmajor") + 1).alias("rspan"),
        (F.max("morton") - F.min("morton") + 1).alias("mspan"),
    )
    return tiles.agg(
        F.count("*").cast("long").alias("n_tiles"),
        F.sum("rspan").cast("long").alias("rowmajor_span_sum"),
        F.sum("mspan").cast("long").alias("morton_span_sum"),
        F.round(
            F.sum("rspan") * F.lit(1.0) / F.sum("mspan"), 6
        ).alias("locality_gain"),
    )
