"""Wave-124: integer-exact matrix profile (SSD) on the daily series and an
unrolled k-core decomposition of the co-purchase graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_MP_M = 7  # subsequence length (one week of daily counts)
_MP_EXCL = 3  # exclusion zone |i-j| > m//2 (trivial-match guard)


@query(
    "events_matrix_profile_ssd",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, x,
               LEAD(x, 1) OVER (ORDER BY day) AS x1,
               LEAD(x, 2) OVER (ORDER BY day) AS x2,
               LEAD(x, 3) OVER (ORDER BY day) AS x3,
               LEAD(x, 4) OVER (ORDER BY day) AS x4,
               LEAD(x, 5) OVER (ORDER BY day) AS x5,
               LEAD(x, 6) OVER (ORDER BY day) AS x6
        FROM daily
    ),
    wins AS (SELECT * FROM idx WHERE x6 IS NOT NULL),
    pairs AS (
        SELECT a.i, a.day, b.i AS j,
               (a.x - b.x) * (a.x - b.x)
               + (a.x1 - b.x1) * (a.x1 - b.x1)
               + (a.x2 - b.x2) * (a.x2 - b.x2)
               + (a.x3 - b.x3) * (a.x3 - b.x3)
               + (a.x4 - b.x4) * (a.x4 - b.x4)
               + (a.x5 - b.x5) * (a.x5 - b.x5)
               + (a.x6 - b.x6) * (a.x6 - b.x6) AS ssd
        FROM wins a JOIN wins b ON ABS(a.i - b.i) > {_MP_EXCL}
    )
    SELECT i AS win_idx, CAST(day AS VARCHAR) AS win_start,
           CAST(ssd AS BIGINT) AS profile_ssd,
           CAST(j AS BIGINT) AS nn_idx
    FROM (
        SELECT i, day, ssd, j,
               ROW_NUMBER() OVER (PARTITION BY i ORDER BY ssd, j) AS rk
        FROM pairs) t
    WHERE rk = 1
    """,
)
def events_matrix_profile_ssd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile of the daily event-count series (Yeh et al., ICDM
    2016, public) in its integer-exact SSD form: for every 7-day
    subsequence, the smallest sum-of-squared-differences to any other
    subsequence outside the |i-j| > m//2 exclusion zone, plus the
    nearest-neighbor index. Low profile = motif (repeated weekly shape);
    high profile = discord (anomalous week). The classic z-normalized
    variant swaps exactness for amplitude invariance; SSD keeps every
    comparison in BIGINTs so both engines agree bit-for-bit.

    Scale shape: the heavy stream collapses to one map-side-combined
    daily aggregate; the O(d²) window self-join runs on the tiny daily
    frame (same aggregate-then-quadratic posture as agg_kendall_tau);
    subsequences stay in LEAD columns, never materialized arrays."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = Window.orderBy("day")
    cols = ["x"] + [f"x{t}" for t in range(1, _MP_M)]
    idx = daily.select(
        F.row_number().over(w).alias("i"),
        "day",
        "x",
        *[F.lead("x", t).over(w).alias(f"x{t}") for t in range(1, _MP_M)],
    )
    wins = idx.where(F.col(f"x{_MP_M - 1}").isNotNull())
    a, b = wins.alias("a"), wins.alias("b")
    ssd = None
    for c in cols:
        d2 = (F.col(f"a.{c}") - F.col(f"b.{c}")) * (F.col(f"a.{c}") - F.col(f"b.{c}"))
        ssd = d2 if ssd is None else ssd + d2
    pairs = a.join(
        b, F.abs(F.col("a.i") - F.col("b.i")) > _MP_EXCL
    ).select(
        F.col("a.i").alias("i"),
        F.col("a.day").alias("day"),
        F.col("b.i").alias("j"),
        ssd.alias("ssd"),
    )
    wr = Window.partitionBy("i").orderBy("ssd", "j")
    return (
        pairs.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            F.col("i").alias("win_idx"),
            F.date_format("day", "yyyy-MM-dd").alias("win_start"),
            F.col("ssd").cast("long").alias("profile_ssd"),
            F.col("j").cast("long").alias("nn_idx"),
        )
    )


_KCORE_K = 3
_KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    # reference, and each round references the previous one three times —
    # un-materialized, the parquet scan would be inlined 3^rounds times
    # (observed: "Too many open files"). Spark needs the same truncation
    # via localCheckpoint below.
    ctes = [
        """e AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey)
        GROUP BY u, v HAVING COUNT(DISTINCT l_orderkey) >= 2
    )""",
        "sym0 AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
    ]
    cur = "sym0"
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"n{r} AS MATERIALIZED (SELECT u FROM {cur} GROUP BY u "
            f"HAVING COUNT(*) >= {_KCORE_K})"
        )
        ctes.append(
            f"sym{r} AS MATERIALIZED (SELECT s.u, s.v FROM {cur} s "
            f"JOIN n{r} a ON a.u = s.u JOIN n{r} b ON b.u = s.v)"
        )
        cur = f"sym{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT u AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree"
        f"\n    FROM {cur} GROUP BY u"
    )


@query("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (Seidman 1983, public; distributed peeling per
    Montresor et al.) of the part co-purchase graph: parts are adjacent
    when they appear together in >= 2 distinct orders; 12 unrolled
    peeling rounds each drop every node with degree < 3 and re-induce the
    subgraph. Output: the surviving (approximate-to-fixpoint) 3-core with
    each member's in-core degree — the dense backbone a recommender mines
    for stable co-purchase communities.

    Fixed-iteration contract (same as graph_pagerank_unrolled): 12 rounds
    is the deterministic operator in BOTH engines; pytest asserts the
    fixture reaches the true fixpoint (round 12 == round 11), and at any
    scale each extra round is one more degree-agg + semi-join.

    Scale shape: edge build is a per-order self-join (order fan-out is
    bounded by lines-per-order, so pairs are linear in lineitem); each
    peel round is a map-side-combined degree count + two hash semi-joins
    on node id. Peeling state never leaves the cluster."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count_distinct("a.l_orderkey").alias("no"))
        .where(F.col("no") >= 2)
        .select("u", "v")
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # Truncate lineage EVERY round: each round references the prior edge
    # set three times (degree agg + both semi-joins), so without a
    # checkpoint the logical plan grows 3^rounds and Catalyst analysis,
    # not execution, becomes the bottleneck (measured: >500 s un-truncated
    # vs 7 s checkpointed at sf0.01). localCheckpoint is what iterative
    # graph engines (GraphX/Pregel loops) do between supersteps; on a
    # cluster, reliable checkpoint() or a per-round table write gives the
    # same truncation with fault tolerance.
    sym = sym.localCheckpoint(eager=True)
    for _ in range(_KCORE_ROUNDS):
        keep = (
            sym.groupBy("u")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= _KCORE_K)
            .select("u")
        )
        sym = (
            sym.join(keep, "u")
            .join(keep.select(F.col("u").alias("v")), "v")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return sym.groupBy("u").agg(F.count("*").cast("long").alias("core_degree")).select(
        F.col("u").alias("part_id"), "core_degree"
    )
