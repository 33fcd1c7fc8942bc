"""Wave-383: seasonal Mann-Kendall trend test (Hirsch, Slack & Smith,
Water Resources Research 1982) and the BFS double-sweep diameter lower
bound (Magnien, Latapy & Habib, ACM JEA 2009 — the standard cheap
diameter estimator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_seasonal_kendall",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               ISODOW(ts) - 1 AS dow,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.c > a.c THEN 1
                             WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_total
        FROM daily a JOIN daily b ON b.dow = a.dow AND b.day > a.day
    ),
    per AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY dow
    ),
    ties AS (
        SELECT dow, c, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY dow, c HAVING COUNT(*) > 1
    ),
    v AS (
        SELECT (SELECT SUM(n * (n - 1) * (2 * n + 5)) FROM per)
               - COALESCE((SELECT SUM(t * (t - 1) * (2 * t + 5)) FROM ties), 0)
                   AS var18
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per) AS n_seasons,
           (SELECT CAST(SUM(n) AS BIGINT) FROM per) AS n_days,
           s.s_total,
           CAST(v.var18 AS BIGINT) AS var18_total,
           ROUND(CASE WHEN v.var18 = 0 THEN 0.0
                      WHEN s.s_total > 0
                          THEN (s.s_total - 1) / SQRT(v.var18 / 18.0)
                      WHEN s.s_total < 0
                          THEN (s.s_total + 1) / SQRT(v.var18 / 18.0)
                      ELSE 0.0 END, 6) AS z_sk
    FROM s, v
    """,
)
def events_seasonal_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test on the daily event-count series
    with weekday seasons (Hirsch-Slack): Kendall's S is computed WITHIN
    each weekday (so the weekly cycle cannot masquerade as trend) and the
    seven S_g sum; the null variance is the tie-corrected
    sum n_g(n_g−1)(2n_g+5)/18 per season, and z applies the ±1 continuity
    correction. The monotone-trend test hydrology standardized for
    seasonal series, here over event volume.

    Determinism: S and 18·Var are exact integers (the /18 happens once
    inside the final double); z is one double expression ROUND 6.

    Scale shape: calendar collapse first (daily counts — bounded by the
    observation window, not corpus rows), then a per-season pair join
    over the bounded daily frame; corpus rows only ever see one
    map-side-combined groupBy."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.weekday("ts").alias("dow"),
    ).agg(F.count("*").cast("long").alias("c"))
    a = daily.select(
        F.col("dow").alias("adow"), F.col("day").alias("aday"), F.col("c").alias("ac")
    )
    b = daily.select(
        F.col("dow").alias("bdow"), F.col("day").alias("bday"), F.col("c").alias("bc")
    )
    s = (
        a.join(b, (F.col("bdow") == F.col("adow")) & (F.col("bday") > F.col("aday")))
        .agg(
            F.sum(
                F.when(F.col("bc") > F.col("ac"), 1)
                .when(F.col("bc") < F.col("ac"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_total")
        )
    )
    per = daily.groupBy("dow").agg(F.count("*").cast("long").alias("n"))
    n_terms = per.agg(
        F.count("*").cast("long").alias("n_seasons"),
        F.sum("n").cast("long").alias("n_days"),
        F.sum(F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)).alias("raw18"),
    )
    ties = (
        daily.groupBy("dow", "c")
        .agg(F.count("*").cast("long").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tie18")
        )
    )
    out = s.crossJoin(F.broadcast(n_terms)).crossJoin(F.broadcast(ties))
    var18 = (F.col("raw18") - F.col("tie18")).cast("long")
    sigma = F.sqrt(var18 / 18.0)
    z = (
        F.when(var18 == 0, F.lit(0.0))
        .when(F.col("s_total") > 0, (F.col("s_total") - 1) / sigma)
        .when(F.col("s_total") < 0, (F.col("s_total") + 1) / sigma)
        .otherwise(F.lit(0.0))
    )
    return out.select(
        "n_seasons",
        "n_days",
        "s_total",
        var18.alias("var18_total"),
        F.round(z, 6).alias("z_sk"),
    )


_BFS_ROUNDS = 8  # frontier-relaxation rounds per sweep (fixture reach < 8)

# part co-purchase graph, the wave128 construction: parts adjacent when
# co-ordered in >= 2 distinct orders; symmetric edge list
_SYM_SQL = """
    e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(DISTINCT a.l_orderkey) >= 2
    ),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)
"""


@query(
    "graph_diameter_double_sweep",
    oracle=f"""
    WITH RECURSIVE {_SYM_SQL},
    start1 AS (SELECT MIN(u) AS s FROM sym),
    r1 AS (
        SELECT s AS node, 0 AS d FROM start1
        UNION
        SELECT e.v, r1.d + 1 FROM r1 JOIN sym e ON e.u = r1.node
        WHERE r1.d < {_BFS_ROUNDS}
    ),
    d1 AS (SELECT node, MIN(d) AS d FROM r1 GROUP BY node),
    far AS (SELECT node AS v, d FROM d1 ORDER BY d DESC, node LIMIT 1),
    r2 AS (
        SELECT v AS node, 0 AS d FROM far
        UNION
        SELECT e.v, r2.d + 1 FROM r2 JOIN sym e ON e.u = r2.node
        WHERE r2.d < {_BFS_ROUNDS}
    ),
    d2 AS (SELECT node, MIN(d) AS d FROM r2 GROUP BY node)
    SELECT (SELECT CAST(s AS BIGINT) FROM start1) AS source_node,
           (SELECT CAST(v AS BIGINT) FROM far) AS far_node,
           (SELECT CAST(d AS BIGINT) FROM far) AS first_sweep_depth,
           (SELECT CAST(MAX(d) AS BIGINT) FROM d2) AS diameter_lower_bound,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d1) AS n_reached_1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d2) AS n_reached_2,
           (SELECT MAX(d) FROM d1) < {_BFS_ROUNDS}
               AND (SELECT MAX(d) FROM d2) < {_BFS_ROUNDS} AS converged
    """,
)
def graph_diameter_double_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter lower bound by BFS double sweep: breadth-first from the
    smallest node id, hop to the farthest node found (ties → smallest
    id), and that node's eccentricity from a second BFS bounds the
    diameter from below — on real small-world graphs the bound is
    usually tight (Magnien et al. 2009). Over the part co-purchase
    graph (wave128's edge build).

    Fixed-iteration contract (graph_kcore_peel's): {_BFS_ROUNDS} relax
    rounds per sweep is the operator in both engines; `converged` is
    TRUE iff both sweeps exhausted their reachable set inside the cap,
    so a non-fixture graph that outruns the cap is visible in data.

    Scale shape: each round is one frontier equi-join + a min-distance
    aggregate, the Pregel BFS superstep; rounds truncate lineage with
    localCheckpoint (the wave124 idiom — 16 rounds of 2-reference
    growth would otherwise put Catalyst analysis, not execution, on the
    critical path). The far-node pick is a 1-row rank filter, never a
    collect."""
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
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)

    def sweep(seed: DataFrame) -> DataFrame:
        """seed: 1-row (node) frame; returns (node, d) min-distances."""
        dist = seed.select(F.col("node"), F.lit(0).alias("d")).localCheckpoint(
            eager=True
        )
        # r11: fence every SECOND round — one eager checkpoint is one Spark
        # job, and 16 of them (2 sweeps x 8 rounds) made job-launch overhead
        # the wall. Two un-fenced rounds only square the (checkpointed-leaf)
        # dist references — 4 copies of a local scan, cheap to analyze —
        # while halving the job count. Same frontier math, same rows.
        for r in range(_BFS_ROUNDS):
            nxt = (
                dist.join(sym, dist["node"] == sym["u"])
                .select(F.col("v").alias("node"), (F.col("d") + 1).alias("d"))
            )
            dist = (
                dist.unionByName(nxt)
                .groupBy("node")
                .agg(F.min("d").alias("d"))
            )
            if r % 2 == 1 or r == _BFS_ROUNDS - 1:
                dist = dist.localCheckpoint(eager=True)
        return dist

    start1 = sym.agg(F.min("u").alias("node"))
    d1 = sweep(start1)
    far = d1.orderBy(F.col("d").desc(), F.col("node")).limit(1)
    d2 = sweep(far.select("node"))

    m1 = d1.agg(
        F.max("d").alias("max1"), F.count("*").cast("long").alias("n_reached_1")
    )
    m2 = d2.agg(
        F.max("d").cast("long").alias("diameter_lower_bound"),
        F.count("*").cast("long").alias("n_reached_2"),
    )
    return (
        start1.select(F.col("node").cast("long").alias("source_node"))
        .crossJoin(
            F.broadcast(
                far.select(
                    F.col("node").cast("long").alias("far_node"),
                    F.col("d").cast("long").alias("first_sweep_depth"),
                )
            )
        )
        .crossJoin(F.broadcast(m1))
        .crossJoin(F.broadcast(m2))
        .select(
            "source_node",
            "far_node",
            "first_sweep_depth",
            "diameter_lower_bound",
            "n_reached_1",
            "n_reached_2",
            (
                (F.col("max1") < _BFS_ROUNDS)
                & (F.col("diameter_lower_bound") < _BFS_ROUNDS)
            ).alias("converged"),
        )
    )
