"""Wave-128: unrolled multi-source BFS layers, Cramér–von Mises two-sample
test, and exact 1-D Wasserstein distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_BFS_ROUNDS = 6
_BFS_SEEDS = 4


def _bfs_oracle() -> str:
    ctes = [
        """e AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey)
        GROUP BY u, v HAVING COUNT(DISTINCT l_orderkey) >= 2
    )""",
        "sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        f"""seeds AS MATERIALIZED (
        SELECT u AS seed FROM (SELECT DISTINCT u FROM sym)
        ORDER BY u LIMIT {_BFS_SEEDS}
    )""",
        "d0 AS MATERIALIZED (SELECT seed, seed AS node, 0 AS d FROM seeds)",
    ]
    cur = "d0"
    for r in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
        SELECT seed, node, MIN(d) AS d FROM (
            SELECT seed, node, d FROM {cur}
            UNION ALL
            SELECT p.seed, s.v AS node, p.d + 1 AS d
            FROM {cur} p JOIN sym s ON s.u = p.node
        ) GROUP BY seed, node
    )"""
        )
        cur = f"d{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT seed, node, CAST(d AS BIGINT) AS dist FROM {cur}"
    )


@query("graph_bfs_layers", oracle=_bfs_oracle())
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search — 6 unrolled frontier-relaxation
    rounds from the 4 smallest part ids of the co-purchase graph (parts
    adjacent when co-ordered in >= 2 distinct orders). Round r replaces
    dist with min(dist, neighbor+1) — the Bellman-Ford-style distributed
    BFS every Pregel engine runs; 6 rounds reach everything within 6
    hops (the fixture graph's small-world reach).

    Fixed-iteration contract (graph_kcore_peel's): 6 rounds is the
    operator in BOTH engines; hop counts are exact integers. Lineage is
    localCheckpoint-truncated per round (the plan otherwise doubles per
    round), and the oracle's CTE chain is MATERIALIZED for the same
    reason.

    Scale shape: each round shuffles the frontier on node id and
    min-combines map-side; the edge list is built once. At 100 TB the
    edge table would persist as a bucketed table so every round's join
    is co-partitioned."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count_distinct("a.l_orderkey").alias("no"))
        .where(F.col("no") >= 2)
        .select("u", "v")
    )
    sym = (
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    seeds = (
        sym.select("u").distinct().orderBy("u").limit(_BFS_SEEDS)
        .select(F.col("u").alias("seed"))
    )
    dist = seeds.select(
        "seed", F.col("seed").alias("node"), F.lit(0).alias("d")
    ).localCheckpoint(eager=True)
    # r11: fence every SECOND round (each eager checkpoint is a Spark job;
    # two un-fenced rounds only put 4 references on a checkpointed leaf) —
    # same relaxation math, half the job launches
    for r in range(_BFS_ROUNDS):
        stepped = (
            dist.join(sym, dist.node == sym.u)
            .select("seed", F.col("v").alias("node"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(stepped)
            .groupBy("seed", "node")
            .agg(F.min("d").alias("d"))
        )
        if r % 2 == 1 or r == _BFS_ROUNDS - 1:
            dist = dist.localCheckpoint(eager=True)
    return dist.select("seed", "node", F.col("d").cast("long").alias("dist"))


@query(
    "agg_cramer_von_mises",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    lab AS (
        SELECT day, x,
               CASE WHEN ROW_NUMBER() OVER (ORDER BY day)
                         <= COUNT(*) OVER () / 2
                    THEN 'A' ELSE 'B' END AS grp
        FROM daily
    ),
    mr AS (
        SELECT day, x, grp,
               2 * (COUNT(*) OVER (ORDER BY x
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
               + COUNT(*) OVER (PARTITION BY x) + 1 AS r2
        FROM lab
    ),
    idx AS (
        SELECT grp, r2,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x, day) AS i
        FROM mr
    ),
    sizes AS (
        SELECT CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS m
        FROM lab
    ),
    u4 AS (
        SELECT CAST(SUM(CASE WHEN grp = 'A'
                        THEN (SELECT n FROM sizes) * (r2 - 2 * i) * (r2 - 2 * i)
                        ELSE (SELECT m FROM sizes) * (r2 - 2 * i) * (r2 - 2 * i)
                        END) AS BIGINT) AS u4
        FROM idx
    )
    SELECT s.n, s.m, u.u4,
           ROUND(u.u4 / (4.0 * (s.n + s.m) * s.n * s.m)
                 - (4.0 * s.n * s.m - 1) / (6.0 * (s.n + s.m)), 6) AS t_stat
    FROM sizes s CROSS JOIN u4 u
    """,
)
def agg_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises test (Anderson 1962 rank formulation,
    public) between the first and second half of the daily event-count
    series: U = n·Σ(r_i−i)² + m·Σ(s_j−j)² over pooled midranks, T =
    U/(N·n·m) − (4nm−1)/(6N). Like the KS test but integrating squared
    CDF distance — more power against scale/shape drift than the KS
    supremum. A distribution-drift gate for the ingest pipeline.

    Determinism: midranks are doubled into exact integers
    (2·midrank = 2·|{x < v}| + |{x = v}| + 1), within-sample indices
    over ties are a consecutive set whose squared-difference sum is
    order-invariant, so U·4 is one exact BIGINT; T is one float chain.

    Scale shape: one map-side-combined daily collapse, then windows over
    the tiny daily frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wd = Window.orderBy("day")
    lab = daily.select(
        "day",
        "x",
        F.when(
            F.row_number().over(wd)
            <= F.count("*").over(Window.partitionBy()) / 2,
            "A",
        )
        .otherwise("B")
        .alias("grp"),
    )
    wv = Window.orderBy("x").rangeBetween(Window.unboundedPreceding, -1)
    mr = lab.select(
        "day",
        "x",
        "grp",
        (
            2 * F.coalesce(F.count("*").over(wv), F.lit(0))
            + F.count("*").over(Window.partitionBy("x"))
            + 1
        ).alias("r2"),
    )
    wi = Window.partitionBy("grp").orderBy("x", "day")
    idx = mr.select("grp", "r2", F.row_number().over(wi).alias("i"))
    sizes = lab.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).cast("long").alias("n"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).cast("long").alias("m"),
    )
    dev2 = (F.col("r2") - 2 * F.col("i")) * (F.col("r2") - 2 * F.col("i"))
    u4 = (
        idx.crossJoin(F.broadcast(sizes))
        .select(
            F.when(F.col("grp") == "A", F.col("n") * dev2)
            .otherwise(F.col("m") * dev2)
            .alias("term")
        )
        .agg(F.sum("term").cast("long").alias("u4"))
    )
    return sizes.crossJoin(u4).select(
        "n",
        "m",
        "u4",
        F.round(
            F.col("u4") / (4.0 * (F.col("n") + F.col("m")) * F.col("n") * F.col("m"))
            - (4.0 * F.col("n") * F.col("m") - 1)
            / (6.0 * (F.col("n") + F.col("m"))),
            6,
        ).alias("t_stat"),
    )


@query(
    "agg_wasserstein_1d",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    lab AS (
        SELECT x,
               CASE WHEN ROW_NUMBER() OVER (ORDER BY day)
                         <= COUNT(*) OVER () / 2
                    THEN 'A' ELSE 'B' END AS grp
        FROM daily
    ),
    sizes AS (
        SELECT CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
        FROM lab
    ),
    vals AS (
        SELECT x,
               CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM lab GROUP BY x
    ),
    cum AS (
        SELECT x,
               SUM(ca) OVER (ORDER BY x) AS cuma,
               SUM(cb) OVER (ORDER BY x) AS cumb,
               LEAD(x) OVER (ORDER BY x) - x AS gap
        FROM vals
    ),
    w AS (
        SELECT CAST(SUM(ABS(cuma * (SELECT nb FROM sizes)
                            - cumb * (SELECT na FROM sizes)) * gap) AS BIGINT)
                   AS w1_scaled
        FROM cum WHERE gap IS NOT NULL
    )
    SELECT s.na, s.nb, w.w1_scaled,
           ROUND(w.w1_scaled / (CAST(s.na AS DOUBLE) * s.nb), 6) AS w1
    FROM sizes s CROSS JOIN w
    """,
)
def agg_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between the
    first- and second-half daily event-count distributions: W1 =
    ∫|F_A − F_B| dx over the merged support. The drift metric with
    units (events/day moved × distance) — unlike KS/CvM it responds
    proportionally to HOW FAR mass shifted, which is what capacity
    planning cares about.

    Determinism: with empirical CDFs at denominators n_A, n_B, the
    integrand scales to |cumA·n_B − cumB·n_A| — exact BIGINTs — times
    exact integer support gaps; one final division is rounded.

    Scale shape: daily collapse, one small groupBy on value, two
    running-sum windows over the distinct-value frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wd = Window.orderBy("day")
    lab = daily.select(
        "x",
        F.when(
            F.row_number().over(wd)
            <= F.count("*").over(Window.partitionBy()) / 2,
            "A",
        )
        .otherwise("B")
        .alias("grp"),
    )
    sizes = lab.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).cast("long").alias("nb"),
    )
    vals = lab.groupBy("x").agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).cast("long").alias("cb"),
    )
    wx = Window.orderBy("x")
    cum = vals.select(
        "x",
        F.sum("ca").over(wx).alias("cuma"),
        F.sum("cb").over(wx).alias("cumb"),
        (F.lead("x").over(wx) - F.col("x")).alias("gap"),
    )
    w = (
        cum.where(F.col("gap").isNotNull())
        .crossJoin(F.broadcast(sizes))
        .select(
            (
                F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
                * F.col("gap")
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("w1_scaled"))
    )
    return sizes.crossJoin(w).select(
        "na",
        "nb",
        "w1_scaled",
        F.round(
            F.col("w1_scaled") / (F.col("na").cast("double") * F.col("nb")), 6
        ).alias("w1"),
    )
