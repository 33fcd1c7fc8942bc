"""Wave-213: sampled eccentricity / diameter bounds via multi-source
unrolled BFS on the co-purchase graph, and the G-test of independence
(the log-likelihood-ratio chi-square).

Eccentricity from a handful of md5-chosen sources is the standard cheap
diameter probe (max observed eccentricity lower-bounds the diameter; the
iFUB family starts exactly this way). The G-test is the
information-theoretic twin of agg_chi_square — additive across
partitions of the table, which Pearson's X^2 is not, and equal to
2*N*MI(nats), tying it to agg_mutual_info.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_NSRC = 4
_ROUNDS = 8

_GRAPH_SQL = """e AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey)
        GROUP BY u, v HAVING COUNT(DISTINCT l_orderkey) >= 2
    ),
    sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)"""


def _ecc_oracle() -> str:
    ctes = [
        _GRAPH_SQL,
        f"""srcs AS MATERIALIZED (
        SELECT u AS s FROM (SELECT DISTINCT u FROM sym)
        ORDER BY (STRPOS('0123456789abcdef',
                         SUBSTR(MD5(CAST(u AS VARCHAR)), 1, 1)) - 1)
                 * 16 + STRPOS('0123456789abcdef',
                               SUBSTR(MD5(CAST(u AS VARCHAR)), 2, 1)) - 1,
                 u
        LIMIT {_NSRC}
    )""",
        """d0 AS MATERIALIZED (
        SELECT s, s AS u, 0 AS dist FROM srcs
    )""",
    ]
    prev = "d0"
    for r in range(1, _ROUNDS + 1):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
        SELECT s, u, MIN(dist) AS dist FROM (
            SELECT s, u, dist FROM {prev}
            UNION ALL
            SELECT p.s, sym.v AS u, p.dist + 1 AS dist
            FROM {prev} p JOIN sym ON sym.u = p.u
        ) GROUP BY s, u
    )"""
        )
        prev = f"d{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT s AS source,
           CAST(MAX(dist) AS BIGINT) AS eccentricity,
           CAST(COUNT(*) AS BIGINT) AS reached,
           (SELECT CAST(MAX(mx) AS BIGINT) FROM (
                SELECT MAX(dist) AS mx FROM {prev} GROUP BY s))
               AS diameter_lb
    FROM {prev} GROUP BY s ORDER BY s
    """
    )


@query("graph_eccentricity_sample", oracle=_ecc_oracle())
def graph_eccentricity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eccentricity of {_NSRC} md5-sampled sources on the co-purchase
    graph via {_ROUNDS} unrolled BFS rounds (frontier = min-distance
    relaxation, exactly the distributed BFS a 1000-executor job runs),
    plus the max observed eccentricity — the classic diameter LOWER
    bound (iFUB's starting point). Tells the graph family's consumers
    whether "within 3 hops" queries can ever reach the whole component.

    Determinism: distances are exact integers (min-relaxation is
    order-free); source selection orders by an md5 byte with an id
    tie-break.

    Scale shape: each round is one frontier-edge equi-join + min
    groupBy, state = (source, node) pairs — {_NSRC}x the BFS cost, all
    shuffles keyed on node id. {_ROUNDS} rounds cover any diameter the
    >= 2-support co-purchase graph plausibly has; 'reached' exposes
    truncation if not."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.countDistinct("l_orderkey").alias("supp"))
        .where(F.col("supp") >= 2)
        .select("u", "v")
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = sym.select("u").distinct()
    key = (
        (
            F.conv(
                F.substring(F.md5(F.col("u").cast("string")), 1, 1), 16, 10
            ).cast("long")
        )
        * 16
        + F.conv(
            F.substring(F.md5(F.col("u").cast("string")), 2, 1), 16, 10
        ).cast("long")
    )
    srcs = (
        nodes.withColumn("hk", key)
        .orderBy("hk", "u")
        .limit(_NSRC)
        .select(F.col("u").alias("s"))
    )
    # pin the (small) edge list and truncate lineage each round — an
    # 8-deep union/groupBy chain otherwise recomputes the co-purchase
    # self-join 2^8 times through lazy re-evaluation
    sym = sym.localCheckpoint(eager=True)
    d = srcs.select("s", F.col("s").alias("u"), F.lit(0).alias("dist"))
    for _ in range(_ROUNDS):
        expanded = d.unionAll(
            d.join(sym, "u").select(
                "s", F.col("v").alias("u"), (F.col("dist") + 1).alias("dist")
            )
        )
        d = (
            expanded.groupBy("s", "u")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    ecc = d.groupBy("s").agg(
        F.max("dist").cast("long").alias("eccentricity"),
        F.count("*").cast("long").alias("reached"),
    )
    dia = ecc.agg(F.max("eccentricity").alias("diameter_lb"))
    return (
        ecc.crossJoin(F.broadcast(dia))
        .select(
            F.col("s").alias("source"),
            "eccentricity",
            "reached",
            F.col("diameter_lb").cast("long").alias("diameter_lb"),
        )
        .orderBy("source")
    )


@query(
    "agg_g_test",
    oracle="""
    WITH cells AS (
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    marg AS (
        SELECT c.dow, c.event_type, c.o, r.rt, k.ct, t.n
        FROM cells c
        JOIN (SELECT dow, CAST(SUM(o) AS BIGINT) AS rt FROM cells
              GROUP BY dow) r ON r.dow = c.dow
        JOIN (SELECT event_type, CAST(SUM(o) AS BIGINT) AS ct FROM cells
              GROUP BY event_type) k ON k.event_type = c.event_type
        JOIN (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells) t ON TRUE
    ),
    g AS (
        SELECT n,
               (SELECT CAST(COUNT(DISTINCT dow) AS BIGINT) FROM cells)
                   AS r,
               (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
                FROM cells) AS c,
               2 * LIST_REDUCE(
                   LIST(o * LN(CAST(o AS DOUBLE) * n
                               / (CAST(rt AS DOUBLE) * ct))
                        ORDER BY dow, event_type),
                   (x, y) -> x + y) AS g_stat
        FROM marg GROUP BY n
    ),
    invs AS (
        SELECT (SELECT LIST_REDUCE(LIST(1.0e0 / rt ORDER BY dow),
                                   (x, y) -> x + y)
                FROM (SELECT dow, CAST(SUM(o) AS BIGINT) AS rt
                      FROM cells GROUP BY dow)) AS sir,
               (SELECT LIST_REDUCE(LIST(1.0e0 / ct ORDER BY event_type),
                                   (x, y) -> x + y)
                FROM (SELECT event_type, CAST(SUM(o) AS BIGINT) AS ct
                      FROM cells GROUP BY event_type)) AS sic
    )
    SELECT n, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(g_stat, 6) AS g_stat,
           -- Williams (1976): q = 1 + (N*sum(1/row)-1)(N*sum(1/col)-1)
           --                        / (6*N*dof)
           ROUND(g_stat / (1 + (n * i.sir - 1) * (n * i.sic - 1)
                           / (6.0e0 * n * (r - 1) * (c - 1))), 6)
               AS g_williams
    FROM g, invs i
    """,
)
def agg_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence on the day-of-week x event-type table:
    G = 2 * sum O * ln(O*N / (rowtotal*coltotal)), with the Williams
    small-sample correction. The log-likelihood-ratio twin of
    agg_chi_square — additive across table partitions (you can G-test
    shards and SUM the statistics, which Pearson X^2 forbids) and equal
    to 2*N*MI in nats, linking it to agg_mutual_info.

    Determinism: the only float work is ln over exact integer ratios in
    an ORDERED (dow, type) fold; marginals and dof are exact integers.

    Scale shape: one contingency groupBy (<= 35 cells) then constant
    arithmetic — and the additivity property IS the 100 TB strategy:
    per-partition G's sum exactly."""
    events = table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.dayofweek(F.to_date("ts")).cast("long").alias("dow"),
        "event_type",
    ).agg(F.count("*").cast("long").alias("o"))
    rt = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("ct")
    )
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    r = cells.agg(F.countDistinct("dow").cast("long").alias("r"))
    c = cells.agg(F.countDistinct("event_type").cast("long").alias("c"))
    marg = (
        cells.join(rt, "dow")
        .join(ct, "event_type")
        .crossJoin(F.broadcast(n))
        .select(
            "dow",
            "event_type",
            (
                F.col("o")
                * F.log(
                    F.col("o").cast("double")
                    * F.col("n")
                    / (F.col("rt").cast("double") * F.col("ct"))
                )
            ).alias("term"),
            "n",
        )
    )
    g = marg.groupBy("n").agg(
        (
            2
            * F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("dow", "event_type", "term")
                        )
                    ),
                    lambda t: t.term,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("g_stat")
    )
    sir = rt.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("dow", (F.lit(1.0) / F.col("rt")).alias("t"))
                    )
                ),
                lambda s: s.t,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sir")
    )
    sic = ct.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "event_type",
                            (F.lit(1.0) / F.col("ct")).alias("t"),
                        )
                    )
                ),
                lambda s: s.t,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sic")
    )
    j = (
        g.crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(sir))
        .crossJoin(F.broadcast(sic))
    )
    dof = (F.col("r") - 1) * (F.col("c") - 1)
    # Williams (1976): q = 1 + (N*sum(1/row)-1)(N*sum(1/col)-1)/(6*N*dof)
    williams = 1 + (F.col("n") * F.col("sir") - 1) * (
        F.col("n") * F.col("sic") - 1
    ) / (F.lit(6.0) * F.col("n") * (F.col("r") - 1) * (F.col("c") - 1))
    return j.select(
        "n",
        dof.cast("long").alias("dof"),
        F.round("g_stat", 6).alias("g_stat"),
        F.round(F.col("g_stat") / williams, 6).alias("g_williams"),
    )
