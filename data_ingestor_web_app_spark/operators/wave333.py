"""Wave-333: the Pocock win ratio (Pocock et al., European Heart
Journal 2012) with exact hierarchical pair counting via prefix sums,
and a critical-path-method / PERT pass (Kelley & Walker 1959; Malcolm
et al. 1959) over a level-structured task DAG derived from the nation
and supplier tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_win_ratio",
    oracle="""
    WITH u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
    ),
    marg AS (
        SELECT CAST(SUM(CASE WHEN g=1 AND err=0 THEN 1 ELSE 0 END) AS BIGINT) AS na0,
               CAST(SUM(CASE WHEN g=1 AND err=1 THEN 1 ELSE 0 END) AS BIGINT) AS na1,
               CAST(SUM(CASE WHEN g=0 AND err=0 THEN 1 ELSE 0 END) AS BIGINT) AS nb0,
               CAST(SUM(CASE WHEN g=0 AND err=1 THEN 1 ELSE 0 END) AS BIGINT) AS nb1
        FROM u
    ),
    dv AS (
        SELECT err, v,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM u GROUP BY err, v
    ),
    pre AS (
        SELECT err, v, ca, cb,
               COALESCE(SUM(ca) OVER (PARTITION BY err ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_a_lt,
               COALESCE(SUM(cb) OVER (PARTITION BY err ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_b_lt
        FROM dv
    ),
    tier2 AS (
        SELECT CAST(SUM(ca * cum_b_lt) AS BIGINT) AS w2,
               CAST(SUM(cb * cum_a_lt) AS BIGINT) AS l2,
               CAST(SUM(ca * cb) AS BIGINT) AS t2
        FROM pre
    )
    SELECT CAST(na0 * nb1 + w2 AS BIGINT) AS wins,
           CAST(na1 * nb0 + l2 AS BIGINT) AS losses,
           t2 AS ties,
           ROUND(CAST(na0 * nb1 + w2 AS DOUBLE) / (na1 * nb0 + l2), 6)
               AS win_ratio,
           ROUND(LN(CAST(na0 * nb1 + w2 AS DOUBLE) / (na1 * nb0 + l2)), 6)
               AS log_win_ratio
    FROM marg, tier2
    """,
)
def agg_win_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pocock win ratio (EHJ 2012 — the hierarchical-composite
    endpoint estimator): every weekend event is compared against every
    weekday event, first on the error indicator (error loses), then —
    among pairs tied on errors — on value (higher wins). WR =
    total wins / total losses. The O(n_A·n_B) pairwise definition is
    computed EXACTLY without materializing a single pair: tier 1 is a
    2×2 margin product, tier 2 decomposes per distinct centi-value as
    Σ c_A(v)·#{{B < v}} via ordered prefix sums — the merged-EDF
    collapse this registry uses for every rank statistic.

    Determinism: all pair counts are exact integers on the bounded
    centi-value grid; one ratio and one LN rounded 6dp.

    Scale shape: one conditional margin aggregate + one groupBy on the
    (err, centi-value) grid (bounded by value precision, not corpus
    size), then a partitioned prefix-sum window over that grid."""
    u = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("err"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    marg = u.agg(
        F.sum(F.when((F.col("g") == 1) & (F.col("err") == 0), 1).otherwise(0))
        .cast("long")
        .alias("na0"),
        F.sum(F.when((F.col("g") == 1) & (F.col("err") == 1), 1).otherwise(0))
        .cast("long")
        .alias("na1"),
        F.sum(F.when((F.col("g") == 0) & (F.col("err") == 0), 1).otherwise(0))
        .cast("long")
        .alias("nb0"),
        F.sum(F.when((F.col("g") == 0) & (F.col("err") == 1), 1).otherwise(0))
        .cast("long")
        .alias("nb1"),
    )
    dv = u.groupBy("err", "v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("cb"),
    )
    wlt = (
        Window.partitionBy("err")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = dv.select(
        "ca",
        "cb",
        F.coalesce(F.sum("ca").over(wlt), F.lit(0)).alias("cum_a_lt"),
        F.coalesce(F.sum("cb").over(wlt), F.lit(0)).alias("cum_b_lt"),
    )
    tier2 = pre.agg(
        F.sum(F.col("ca") * F.col("cum_b_lt")).cast("long").alias("w2"),
        F.sum(F.col("cb") * F.col("cum_a_lt")).cast("long").alias("l2"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("t2"),
    )
    out = marg.crossJoin(F.broadcast(tier2))
    wins = (F.col("na0") * F.col("nb1") + F.col("w2")).cast("long")
    losses = (F.col("na1") * F.col("nb0") + F.col("l2")).cast("long")
    wr = wins.cast("double") / losses
    return out.select(
        wins.alias("wins"),
        losses.alias("losses"),
        F.col("t2").alias("ties"),
        F.round(wr, 6).alias("win_ratio"),
        F.round(F.log(wr), 6).alias("log_win_ratio"),
    )


# Level-structured task DAG on nation keys 0..24: level l = v // 5,
# tasks in level l >= 1 depend on two level-(l-1) tasks picked by a
# fixed mixing formula. Duration of task v = 1 + #suppliers in nation
# v (data-driven, SF-dependent). Depth is FIXED at 5 levels, so the
# forward and backward passes are each 4 unrolled relaxation rounds.
_CPM_SQL = """
    dur AS MATERIALIZED (
        SELECT n.n_nationkey AS task, n.n_nationkey // 5 AS lvl,
               CAST(1 + COALESCE(s.cnt, 0) AS BIGINT) AS d
        FROM nation n LEFT JOIN (
            SELECT s_nationkey, COUNT(*) AS cnt FROM supplier
            GROUP BY s_nationkey
        ) s ON s.s_nationkey = n.n_nationkey
    ),
    deps AS MATERIALIZED (
        SELECT task, lvl,
               5 * (lvl - 1) + (task * 7 + 1) % 5 AS p1,
               5 * (lvl - 1) + (task * 3 + 2) % 5 AS p2
        FROM dur WHERE lvl >= 1
    ),
    edges AS MATERIALIZED (
        SELECT p1 AS src, task AS dst FROM deps
        UNION
        SELECT p2 AS src, task AS dst FROM deps
    ),
    ef0 AS MATERIALIZED (SELECT task, lvl, d, d AS ef FROM dur WHERE lvl = 0),
    ef1 AS MATERIALIZED (
        SELECT u.task, u.lvl, u.d, u.d + MAX(p.ef) AS ef
        FROM dur u JOIN edges e ON e.dst = u.task
        JOIN ef0 p ON p.task = e.src
        WHERE u.lvl = 1 GROUP BY u.task, u.lvl, u.d
    ),
    ef2 AS MATERIALIZED (
        SELECT u.task, u.lvl, u.d, u.d + MAX(p.ef) AS ef
        FROM dur u JOIN edges e ON e.dst = u.task
        JOIN ef1 p ON p.task = e.src
        WHERE u.lvl = 2 GROUP BY u.task, u.lvl, u.d
    ),
    ef3 AS MATERIALIZED (
        SELECT u.task, u.lvl, u.d, u.d + MAX(p.ef) AS ef
        FROM dur u JOIN edges e ON e.dst = u.task
        JOIN ef2 p ON p.task = e.src
        WHERE u.lvl = 3 GROUP BY u.task, u.lvl, u.d
    ),
    ef4 AS MATERIALIZED (
        SELECT u.task, u.lvl, u.d, u.d + MAX(p.ef) AS ef
        FROM dur u JOIN edges e ON e.dst = u.task
        JOIN ef3 p ON p.task = e.src
        WHERE u.lvl = 4 GROUP BY u.task, u.lvl, u.d
    ),
    ef AS MATERIALIZED (
        SELECT * FROM ef0 UNION ALL SELECT * FROM ef1
        UNION ALL SELECT * FROM ef2 UNION ALL SELECT * FROM ef3
        UNION ALL SELECT * FROM ef4
    ),
    span AS MATERIALIZED (SELECT MAX(ef) AS t FROM ef),
    lf4 AS MATERIALIZED (
        SELECT task, lvl, d, ef, (SELECT t FROM span) AS lf
        FROM ef WHERE lvl = 4
    ),
    lf3 AS MATERIALIZED (
        SELECT u.task, u.lvl, u.d, u.ef, MIN(s.lf - s.d) AS lf
        FROM ef u JOIN edges e ON e.src = u.task
        JOIN lf4 s ON s.task = e.dst
        WHERE u.lvl = 3 GROUP BY u.task, u.lvl, u.d, u.ef
    ),
    lf2 AS MATERIALIZED (
        SELECT u.task, u.lvl, u.d, u.ef, MIN(s.lf - s.d) AS lf
        FROM ef u JOIN edges e ON e.src = u.task
        JOIN lf3 s ON s.task = e.dst
        WHERE u.lvl = 2 GROUP BY u.task, u.lvl, u.d, u.ef
    ),
    lf1 AS MATERIALIZED (
        SELECT u.task, u.lvl, u.d, u.ef, MIN(s.lf - s.d) AS lf
        FROM ef u JOIN edges e ON e.src = u.task
        JOIN lf2 s ON s.task = e.dst
        WHERE u.lvl = 1 GROUP BY u.task, u.lvl, u.d, u.ef
    ),
    lf0 AS MATERIALIZED (
        SELECT u.task, u.lvl, u.d, u.ef, MIN(s.lf - s.d) AS lf
        FROM ef u JOIN edges e ON e.src = u.task
        JOIN lf1 s ON s.task = e.dst
        WHERE u.lvl = 0 GROUP BY u.task, u.lvl, u.d, u.ef
    ),
    cpm AS MATERIALIZED (
        SELECT * FROM lf0 UNION ALL SELECT * FROM lf1
        UNION ALL SELECT * FROM lf2 UNION ALL SELECT * FROM lf3
        UNION ALL SELECT * FROM lf4
    )
"""


@query(
    "opt_critical_path",
    oracle=f"""
    WITH {_CPM_SQL}
    SELECT CAST(task AS BIGINT) AS task, CAST(lvl AS BIGINT) AS lvl,
           d AS duration,
           CAST(ef - d AS BIGINT) AS early_start,
           CAST(ef AS BIGINT) AS early_finish,
           CAST(lf - d AS BIGINT) AS late_start,
           CAST(lf AS BIGINT) AS late_finish,
           CAST(lf - ef AS BIGINT) AS slack,
           lf - ef = 0 AS critical,
           CAST(6 * d + 14 AS BIGINT) AS pert_te_sixths
    FROM cpm ORDER BY task
    """,
)
def opt_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical-path method with a PERT column (Kelley & Walker 1959;
    PERT, Malcolm et al. 1959): a 5-level / 25-task DAG on nation keys
    (durations = 1 + supplier count per nation, so they scale with the
    data), forward pass ES/EF = longest incoming chain, backward pass
    LS/LF from the project span, slack = LF − EF, critical ⇔ slack 0.
    The PERT column carries each task's three-point mean in exact
    sixths: o = d, m = d+2, p = d+6 gives te = (o+4m+p)/6 =
    (6d+14)/6.

    Determinism: durations, EF/LF chains, and slack are pure integer
    max/min arithmetic — no floats anywhere but the declared sixths
    numerator, which stays integer.

    Scale shape (r10 rework, VERDICT r9 item 5): the DAG STRUCTURE is a
    pure function of the task id (dependency formulas on literals), so
    only the 25 durations are data-driven. The r9 per-level join
    formulation referenced every level frame ~3x (next level, the EF
    union, the backward pass) and the un-cached logical plan expanded
    the whole chain per reference — 72 s of recompute for a 25-row
    result; lazy caches made it WORSE (12 serial materialization
    barriers). Now the duration vector is aggregated ONCE into a single
    array row and both DP passes unroll into per-element literal
    expressions over that row (the registry's plane-micro-dot idiom):
    one supplier aggregate + one projection + one explode, ~3 stages
    total. The oracle keeps the level-by-level join formulation, so the
    hash still pins the recursive semantics; at real project scale
    (structurally bounded DAGs) the same static-unroll applies with the
    duration aggregate as the only data-sized stage."""
    # task t (0..24), level t // 5; predecessors of t (level >= 1):
    # p1 = 5*(lvl-1) + (7t+1) % 5, p2 = 5*(lvl-1) + (3t+2) % 5
    preds = {
        t: sorted(
            {
                5 * (t // 5 - 1) + (t * 7 + 1) % 5,
                5 * (t // 5 - 1) + (t * 3 + 2) % 5,
            }
        )
        for t in range(5, 25)
    }
    succs: dict[int, list[int]] = {t: [] for t in range(25)}
    for t, ps in preds.items():
        for p in ps:
            succs[p].append(t)

    dur_row = (
        table(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("task"))
        .join(
            table(spark, sf_dir, "supplier")
            .groupBy(F.col("s_nationkey").alias("task"))
            .agg(F.count("*").alias("cnt")),
            "task",
            "left",
        )
        .select(
            "task",
            (1 + F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("d"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("task", "d"))).alias("td"))
    )

    def d(t: int):  # duration of task t from the sorted struct array
        return F.element_at(F.col("td"), t + 1)["d"]

    # Materialize every DP value as a NAMED COLUMN, one select per level:
    # downstream levels reference ef_t / lf_t as attribute leaves, so the
    # expression trees stay shallow. (A pure expression-dict unroll
    # duplicated subtrees multiplicatively — lf embeds span embeds all
    # EF chains, referenced 4x per output struct — and the resulting
    # million-node projection killed codegen.)
    row = dur_row.select(
        "td", *[d(t).alias(f"d_{t}") for t in range(25)]
    )
    for lvl in range(5):
        new = []
        for t in range(5 * lvl, 5 * lvl + 5):
            if lvl == 0:
                new.append(F.col(f"d_{t}").alias(f"ef_{t}"))
            else:
                ps = preds[t]
                chain = (
                    F.col(f"ef_{ps[0]}")
                    if len(ps) == 1
                    else F.greatest(*[F.col(f"ef_{p}") for p in ps])
                )
                new.append((F.col(f"d_{t}") + chain).alias(f"ef_{t}"))
        row = row.select("*", *new)
    row = row.select(
        "*", F.greatest(*[F.col(f"ef_{t}") for t in range(20, 25)]).alias("span")
    )
    for lvl in range(4, -1, -1):
        new = []
        for t in range(5 * lvl, 5 * lvl + 5):
            if lvl == 4:
                new.append(F.col("span").alias(f"lf_{t}"))
            else:
                terms = [F.col(f"lf_{s}") - F.col(f"d_{s}") for s in succs[t]]
                lf_t = terms[0] if len(terms) == 1 else F.least(*terms)
                new.append(lf_t.alias(f"lf_{t}"))
        row = row.select("*", *new)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).cast("long").alias("task"),
                F.lit(t // 5).cast("long").alias("lvl"),
                F.col(f"d_{t}").alias("duration"),
                (F.col(f"ef_{t}") - F.col(f"d_{t}")).cast("long").alias("early_start"),
                F.col(f"ef_{t}").cast("long").alias("early_finish"),
                (F.col(f"lf_{t}") - F.col(f"d_{t}")).cast("long").alias("late_start"),
                F.col(f"lf_{t}").cast("long").alias("late_finish"),
                (F.col(f"lf_{t}") - F.col(f"ef_{t}")).cast("long").alias("slack"),
                ((F.col(f"lf_{t}") - F.col(f"ef_{t}")) == 0).alias("critical"),
                (6 * F.col(f"d_{t}") + 14).cast("long").alias("pert_te_sixths"),
            )
            for t in range(25)
        ]
    )
    return (
        row.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("task")
    )
