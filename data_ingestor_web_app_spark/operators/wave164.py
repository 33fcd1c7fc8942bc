"""Wave-164: Katz centrality on exact walk counts, Allen's interval
algebra over activity spans, and a Hoeffding-bound holdout audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.operators.wave158 import _EDGES_SQL
from data_ingestor_web_app_spark.registry import query

_KATZ_ROUNDS = 5
_ALPHA = 0.1


def _katz_oracle() -> str:
    ctes = [
        _EDGES_SQL,
        "sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        """w0 AS MATERIALIZED (
        SELECT u, CAST(1 AS BIGINT) AS w FROM (SELECT DISTINCT u FROM sym)
    )""",
    ]
    prev = "w0"
    for r in range(1, _KATZ_ROUNDS + 1):
        ctes.append(
            f"""w{r} AS MATERIALIZED (
        SELECT sym.u, CAST(SUM(q.w) AS BIGINT) AS w
        FROM sym JOIN {prev} q ON q.u = sym.v
        GROUP BY sym.u
    )"""
        )
        prev = f"w{r}"
    katz = " + ".join(
        f"{_ALPHA**r!r} * COALESCE(w{r}.w, 0)" for r in range(1, _KATZ_ROUNDS + 1)
    )
    joins = "\n    ".join(
        f"LEFT JOIN w{r} ON w{r}.u = n.u" for r in range(1, _KATZ_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    , scored AS (
        SELECT n.u, ROUND({katz}, 6) AS katz
        FROM (SELECT DISTINCT u FROM sym) n
    {joins}
    )
    SELECT u, katz FROM (
        SELECT u, katz, ROW_NUMBER() OVER (ORDER BY katz DESC, u) AS rk
        FROM scored) t
    WHERE rk <= 25"""
    )


@query("graph_katz_unrolled", oracle=_katz_oracle())
def graph_katz_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (Katz 1953, public), truncated at 5 walk lengths:
    katz(i) = Σ_k α^k · walks_k(i) with α=0.1 — nodes score by how many
    short walks reach them, the damped cousin of eigenvector centrality.

    EXACT-arithmetic trick (vs the float message-passing the public
    Pregel formulation uses): walk COUNTS are exact integers, so the 5
    propagation rounds run entirely in BIGINT (sum of neighbor counts —
    order-independent, no fold-order hazard), and the α-weighted series
    is applied ONCE at the end — one short double chain per node, ROUND
    6. Bounded: max degree d gives walks_5 ≤ d^5; the co-purchase graph's
    d stays far below the 2^63 ceiling (a production run on a hub-heavy
    graph would switch to DECIMAL(38) or normalize per round).

    Scale shape: each round is one join-aggregate on the edge list (the
    Pregel superstep); top-25 via TakeOrderedAndProject."""
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
        .localCheckpoint(eager=True)
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = sym.select("u").distinct()
    w = nodes.select("u", F.lit(1).cast("long").alias("w"))
    katz = nodes.select("u", F.lit(0.0).alias("katz"))
    for r in range(1, _KATZ_ROUNDS + 1):
        w = (
            sym.join(w.select(F.col("u").alias("v"), "w"), "v")
            .groupBy("u")
            .agg(F.sum("w").cast("long").alias("w"))
            .localCheckpoint(eager=True)
        )
        katz = (
            katz.join(w.select(F.col("u").alias("u"), F.col("w").alias("wr")), "u", "left")
            .select(
                "u",
                (
                    F.col("katz")
                    + F.lit(_ALPHA**r) * F.coalesce(F.col("wr"), F.lit(0)).cast("double")
                ).alias("katz"),
            )
        )
    scored = katz.select("u", F.round("katz", 6).alias("katz"))
    wnd = Window.orderBy(F.col("katz").desc(), "u")
    return (
        scored.withColumn("rk", F.row_number().over(wnd))
        .where(F.col("rk") <= 25)
        .select("u", "katz")
    )


@query(
    "events_allen_relations",
    oracle="""
    WITH spans AS (
        SELECT user_id, event_type,
               EPOCH_US(MIN(ts)) AS s, EPOCH_US(MAX(ts)) AS f
        FROM events GROUP BY user_id, event_type
        HAVING EPOCH_US(MIN(ts)) < EPOCH_US(MAX(ts))
    ),
    pairs AS (
        SELECT a.user_id,
               a.event_type AS type_a, b.event_type AS type_b,
               a.s AS sa, a.f AS fa, b.s AS sb, b.f AS fb
        FROM spans a JOIN spans b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
    ),
    rel AS (
        SELECT user_id, type_a, type_b,
               CASE
                 WHEN fa < sb THEN 'before'
                 WHEN fa = sb THEN 'meets'
                 WHEN sa = sb AND fa = fb THEN 'equal'
                 WHEN sa = sb AND fa < fb THEN 'starts'
                 WHEN sa = sb AND fa > fb THEN 'started_by'
                 WHEN fa = fb AND sa > sb THEN 'finishes'
                 WHEN fa = fb AND sa < sb THEN 'finished_by'
                 WHEN sa > sb AND fa < fb THEN 'during'
                 WHEN sa < sb AND fa > fb THEN 'contains'
                 WHEN sa < sb AND fa > sb AND fa < fb THEN 'overlaps'
                 WHEN sb < sa AND fb > sa AND fb < fa THEN 'overlapped_by'
                 WHEN fb < sa THEN 'after'
                 WHEN fb = sa THEN 'met_by'
               END AS relation
        FROM pairs
    )
    SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM rel GROUP BY relation
    """,
)
def events_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra (Allen 1983, public): classify every pair
    of per-user activity spans (first-to-last event per event type) into
    the 13 exhaustive, mutually exclusive temporal relations — before /
    meets / overlaps / starts / during / finishes, their inverses, and
    equal. The vocabulary temporal reasoning engines and process-mining
    tools are built on; here it summarizes how users' activity types
    interleave.

    Determinism: comparisons on exact microsecond epochs; the CASE
    ladder's order resolves the boundary cases identically in both
    engines (meets before overlaps, equality branches before strict
    containment). Zero-length spans are excluded (a point interval
    collapses several relations).

    Scale shape: spans are one groupBy; pairs join per user on a
    bounded type alphabet (≤ C(5,2) rows per user); counts are map-side
    combinable."""
    e = table(spark, sf_dir, "events")
    spans = (
        e.groupBy("user_id", "event_type")
        .agg(
            F.unix_micros(F.min("ts")).alias("s"),
            F.unix_micros(F.max("ts")).alias("f"),
        )
        .where(F.col("s") < F.col("f"))
    )
    a = spans.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("s").alias("sa"),
        F.col("f").alias("fa"),
    )
    b = spans.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("s").alias("sb"),
        F.col("f").alias("fb"),
    )
    pairs = a.join(b, "user_id").where(F.col("type_a") < F.col("type_b"))
    sa, fa, sb, fb = F.col("sa"), F.col("fa"), F.col("sb"), F.col("fb")
    relation = (
        F.when(fa < sb, "before")
        .when(fa == sb, "meets")
        .when((sa == sb) & (fa == fb), "equal")
        .when((sa == sb) & (fa < fb), "starts")
        .when((sa == sb) & (fa > fb), "started_by")
        .when((fa == fb) & (sa > sb), "finishes")
        .when((fa == fb) & (sa < sb), "finished_by")
        .when((sa > sb) & (fa < fb), "during")
        .when((sa < sb) & (fa > fb), "contains")
        .when((sa < sb) & (fa > sb) & (fa < fb), "overlaps")
        .when((sb < sa) & (fb > sa) & (fb < fa), "overlapped_by")
        .when(fb < sa, "after")
        .when(fb == sa, "met_by")
    )
    return (
        pairs.select("user_id", relation.alias("relation"))
        .groupBy("relation")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )


@query(
    "agg_hoeffding_audit",
    oracle="""
    WITH halves AS (
        SELECT event_type, value, user_id % 2 AS half
        FROM events
    ),
    bounds AS (
        SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        FROM halves GROUP BY event_type
    ),
    a AS (
        SELECT event_type, AVG(value) AS mean_a, CAST(COUNT(*) AS BIGINT) AS n_a
        FROM halves WHERE half = 0 GROUP BY event_type
    ),
    b AS (
        SELECT event_type, AVG(value) AS mean_b
        FROM halves WHERE half = 1 GROUP BY event_type
    )
    SELECT a.event_type, a.n_a,
           ROUND(a.mean_a, 6) AS mean_a,
           ROUND(b.mean_b, 6) AS mean_b,
           ROUND((bo.hi - bo.lo) * SQRT(LN(40e0) / (2 * a.n_a)), 6)
               AS hoeffding_halfwidth,
           ABS(b.mean_b - a.mean_a)
               <= (bo.hi - bo.lo) * SQRT(LN(40e0) / (2 * a.n_a))
               AS holdout_within_bound
    FROM a
    JOIN b ON b.event_type = a.event_type
    JOIN bounds bo ON bo.event_type = a.event_type
    """,
)
def agg_hoeffding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoeffding confidence bound (Hoeffding 1963, public) with a holdout
    audit IN the checked output: split each event type by user parity,
    build the 95% Hoeffding halfwidth (b−a)·√(ln(2/δ)/2n), δ=0.05 ⇒
    ln(40), from half A, and check whether half B's mean lands inside —
    the distribution-free mean bound every early-stopping / racing
    algorithm (Hoeffding trees, bandit elimination) leans on, audited
    against real held-out data instead of asserted in prose.

    Determinism: range endpoints are exact MIN/MAX; ln(40e0) is one libm
    call on the same literal in both engines; ROUND 6 on readouts and the
    boolean compares unrounded doubles whose inputs agree to ~1e-15 —
    the halfwidth (~0.5) sits 6 orders above that edge.

    Scale shape: three map-side-combinable aggregations, broadcast-size
    joins."""
    e = table(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("user_id") % 2).alias("half")
    )
    bounds = e.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    ha = (
        e.where(F.col("half") == 0)
        .groupBy("event_type")
        .agg(F.avg("value").alias("mean_a"), F.count("*").cast("long").alias("n_a"))
    )
    hb = (
        e.where(F.col("half") == 1)
        .groupBy("event_type")
        .agg(F.avg("value").alias("mean_b"))
    )
    hw = (F.col("hi") - F.col("lo")) * F.sqrt(
        F.log(F.lit(40.0)) / (2 * F.col("n_a"))
    )
    return (
        ha.join(hb, "event_type")
        .join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            "n_a",
            F.round("mean_a", 6).alias("mean_a"),
            F.round("mean_b", 6).alias("mean_b"),
            F.round(hw, 6).alias("hoeffding_halfwidth"),
            (F.abs(F.col("mean_b") - F.col("mean_a")) <= hw).alias(
                "holdout_within_bound"
            ),
        )
    )
