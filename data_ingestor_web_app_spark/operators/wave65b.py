"""Wave-65 (batch): referential-integrity audit across every FK edge,
retention decay fit, role-playing date dimension join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _edge_sql(child, ck, parent, pk):
    return f"""
    SELECT '{child}.{ck}' AS fk_edge,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
            WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pk} = c.{ck})) AS n_orphans,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {parent}) AS n_parents,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {parent} p
            WHERE NOT EXISTS (SELECT 1 FROM {child} c
                              WHERE c.{ck} = p.{pk})) AS n_childless
    """


@query(
    "dq_referential_integrity",
    oracle=" UNION ALL ".join(_edge_sql(*e) for e in _EDGES),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the COMPLETE foreign-key graph
    (all six edges of the star schema): per edge, orphaned child rows
    (FK points nowhere — broken loads) and childless parent rows
    (dimension members no fact references — candidates for archival,
    and the population TPC-H Q22 prospects from). The whole-graph sweep
    is what a warehouse runs after every load batch.

    Scale shape: each orphan check is a left_anti join on the FK (AQE
    broadcasts dimension parents); each childless check is a left_anti
    the other way, feeding from the child side's distinct keys — the
    fact table contributes its key set once per edge, never its rows."""
    # one lazy 1-row frame per edge, unioned — the whole audit is a single
    # deferred plan (24 build-time count jobs folded away, VERDICT r8
    # item 7); each scalar is a broadcast 1-row aggregate
    frames = []
    for child, ck, parent, pk in _EDGES:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent)
        orphans = (
            c.join(p, c[ck] == p[pk], "left_anti")
            .agg(F.count("*").cast("long").alias("n_orphans"))
        )
        childless = (
            p.join(c.select(ck).distinct(), p[pk] == F.col(ck), "left_anti")
            .agg(F.count("*").cast("long").alias("n_childless"))
        )
        n_child = c.agg(F.count("*").cast("long").alias("n_child"))
        n_parents = p.agg(F.count("*").cast("long").alias("n_parents"))
        frames.append(
            n_child.crossJoin(F.broadcast(orphans))
            .crossJoin(F.broadcast(n_parents))
            .crossJoin(F.broadcast(childless))
            .select(
                F.lit(f"{child}.{ck}").alias("fk_edge"),
                "n_child",
                "n_orphans",
                "n_parents",
                "n_childless",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@query(
    "events_retention_decay_fit",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS d FROM events e
    ),
    offsets AS (
        SELECT a.user_id, DATE_DIFF('day', f.d0, a.d) AS k
        FROM active a JOIN first_seen f ON f.user_id = a.user_id
        WHERE DATE_DIFF('day', f.d0, a.d) BETWEEN 1 AND 14
    ),
    cohort AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM first_seen),
    r AS (
        SELECT k, COUNT(DISTINCT user_id) * 1.0
                  / (SELECT n0 FROM cohort) AS rate
        FROM offsets GROUP BY k
    ),
    fit AS (
        SELECT COUNT(*) AS np,
               (COUNT(*) * SUM(k * LN(rate)) - SUM(k) * SUM(LN(rate)))
               / (COUNT(*) * SUM(k * k) - SUM(k) * SUM(k)) AS slope,
               (SUM(LN(rate)) - (COUNT(*) * SUM(k * LN(rate))
                                 - SUM(k) * SUM(LN(rate)))
                / (COUNT(*) * SUM(k * k) - SUM(k) * SUM(k)) * SUM(k))
               / COUNT(*) AS icept
        FROM r
    )
    SELECT CAST(np AS BIGINT) AS n_points,
           ROUND(slope, 6) AS decay_slope,
           ROUND(icept, 6) AS log_intercept,
           ROUND(-LN(2) / slope, 4) AS half_life_days
    FROM fit
    """,
)
def events_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit: day-k return rates (k = 1..14
    since first seen, pooled across cohorts) log-transformed and fit by
    closed-form OLS — retention r_k ~ A e^{bk}, and the half-life
    -ln2/b is the single number product teams quote ("we lose half of
    new users every N days"). Complements events_survival_retention's
    raw curve with the parametric summary.

    Determinism: rates are exact integer ratios; the fit runs over 14
    (k, ln rate) points through one fixed double formula.

    Scale shape: first-seen and (user, day) dedup are map-side-combined
    groupBys on the user shuffle; the fit is a 14-row aggregate."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    active = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    offsets = (
        active.join(first_seen, "user_id")
        .select("user_id", F.datediff("d", "d0").alias("k"))
        .where(F.col("k").between(1, 14))
    )
    # cohort size folded in as a 1-row broadcast (no build-time job)
    n0f = first_seen.agg(F.count("*").cast("long").alias("n0"))
    r = (
        offsets.groupBy("k")
        .agg(F.countDistinct("user_id").alias("ret"))
        .crossJoin(F.broadcast(n0f))
        .select("k", (F.col("ret") * 1.0 / F.col("n0")).alias("rate"))
    )
    lr = F.log("rate")
    fit = r.agg(
        F.count("*").alias("np"),
        F.sum("k").alias("sk"),
        F.sum(lr).alias("sy"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
        F.sum(F.col("k") * lr).alias("sky"),
    )
    slope = (F.col("np") * F.col("sky") - F.col("sk") * F.col("sy")) / (
        F.col("np") * F.col("skk") - F.col("sk") * F.col("sk")
    )
    return fit.select(
        F.col("np").cast("long").alias("n_points"),
        F.round(slope, 6).alias("decay_slope"),
        F.round((F.col("sy") - slope * F.col("sk")) / F.col("np"), 6).alias(
            "log_intercept"
        ),
        F.round(-F.log(F.lit(2.0)) / slope, 4).alias("half_life_days"),
    )


@query(
    "join_role_playing_dates",
    oracle="""
    SELECT YEAR(o.o_orderdate) AS order_year,
           YEAR(l.l_shipdate) AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE))) * 1.0 / COUNT(*),
                 4) AS avg_lag_days
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    """,
)
def join_role_playing_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing date dimension: the SAME calendar participates as
    two roles — order date and ship date — and the (order_year,
    ship_year) matrix with the average order-to-ship lag surfaces
    year-boundary spill (orders placed in December shipping in January)
    that single-role reporting misattributes.

    Determinism: the lag is an exact integer day difference; the mean
    is an exact-integer-sum ratio.

    Scale shape: one fact-to-orders equi-join (the largest shuffle in
    the schema, co-partitioned on orderkey), then a map-side-combined
    rollup over at most 7x7 year pairs."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    lag = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    return j.groupBy(
        F.year("o_orderdate").alias("order_year"),
        F.year("l_shipdate").alias("ship_year"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum(lag) * 1.0 / F.count("*"), 4).alias("avg_lag_days"),
    )
