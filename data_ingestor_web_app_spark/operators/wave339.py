"""Wave-339: Wagner-Whitin dynamic lot sizing (Wagner & Whitin,
Management Science 1958) over the 1998 monthly order-demand series —
the exact DP unrolled period-by-period into both engines' plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 100  # setup cost per order
_H = 1  # holding cost per unit per period
_T = 12  # planning horizon (calendar months of 1998 — fixed)


def _ww_sql() -> str:
    """Generate the unrolled 12-period Wagner-Whitin DP as chained
    CTEs: cost(j,t) = K + h[(W_t − W_{j-1}) − j(D_t − D_{j-1})] from
    prefix sums, then f(t) = min_j f(j−1) + cost(j,t) with the
    smallest-j tie-break recovered explicitly."""
    parts = [
        f"""
    months AS (SELECT UNNEST(RANGE(1, {_T} + 1)) AS t),
    dem AS MATERIALIZED (
        SELECT m.t, CAST(COALESCE(o.c, 0) AS BIGINT) AS d
        FROM months m LEFT JOIN (
            SELECT EXTRACT(month FROM o_orderdate) AS t,
                   COUNT(*) AS c
            FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1998
            GROUP BY 1
        ) o ON o.t = m.t
    ),
    pre AS MATERIALIZED (
        SELECT t, d,
               CAST(SUM(d) OVER (ORDER BY t) AS BIGINT) AS dd,
               CAST(SUM(t * d) OVER (ORDER BY t) AS BIGINT) AS ww
        FROM dem
    ),
    cost AS MATERIALIZED (
        SELECT j.t AS j, tt.t AS t,
               CAST({_K} + {_H} * ((tt.ww - COALESCE(jp.ww, 0))
                    - j.t * (tt.dd - COALESCE(jp.dd, 0))) AS BIGINT) AS c
        FROM pre j JOIN pre tt ON tt.t >= j.t
        LEFT JOIN pre jp ON jp.t = j.t - 1
    ),
    fall0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS f)"""
    ]
    for i in range(1, _T + 1):
        parts.append(
            f"""
    f{i} AS MATERIALIZED (
        SELECT CAST({i} AS BIGINT) AS t, CAST(MIN(fp.f + c.c) AS BIGINT) AS f
        FROM cost c JOIN fall{i - 1} fp ON fp.t = c.j - 1
        WHERE c.t = {i}
    ),
    j{i} AS MATERIALIZED (
        SELECT CAST({i} AS BIGINT) AS t, CAST(MIN(c.j) AS BIGINT) AS js
        FROM cost c JOIN fall{i - 1} fp ON fp.t = c.j - 1, f{i}
        WHERE c.t = {i} AND fp.f + c.c = f{i}.f
    ),
    fall{i} AS MATERIALIZED (
        SELECT * FROM fall{i - 1} UNION ALL SELECT t, f FROM f{i})"""
        )
    sel = " UNION ALL ".join(
        f"SELECT f{i}.t, f{i}.f, j{i}.js FROM f{i}, j{i}" for i in range(1, _T + 1)
    )
    parts.append(f"\n    res AS ({sel})")
    return ",".join(parts)


@query(
    "opt_wagner_whitin",
    oracle=f"""
    WITH {_ww_sql()}
    SELECT dem.t AS period, dem.d AS demand,
           res.f AS optimal_cost_to_t,
           res.js AS last_order_period,
           res.js = dem.t AS orders_here
    FROM dem JOIN res ON res.t = dem.t
    ORDER BY period
    """,
)
def opt_wagner_whitin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wagner-Whitin dynamic lot sizing (Management Science 1958 —
    the exact DP that ended EOQ's reign for time-varying demand):
    monthly 1998 order counts are the demands, K = {_K} setup,
    h = {_H} holding per unit-period; f(t) = min_j f(j−1) + K +
    h·Σ(i−j)d_i with the holding term in closed form from the
    (Σd, Σt·d) prefix pair. Reports the optimal cost through each
    period and the last order period j* on the optimal chain
    (smallest-j tie-break), whose j* = t rows mark the zero-inventory
    ordering property the paper proved.

    Determinism: demands, costs, and the DP are pure integer
    arithmetic; the tie-break is an explicit MIN over argmins.

    Scale shape: the corpus collapses to 12 monthly partials; the DP
    is {_T} unrolled min-joins on ≤{_T}-row frames — horizon-bounded,
    exactly like the level-unrolled CPM pass."""
    months = spark.range(1, _T + 1).select(F.col("id").alias("t"))
    ocnt = (
        table(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1998)
        .groupBy(F.month("o_orderdate").alias("t"))
        .agg(F.count("*").alias("c"))
    )
    dem = months.join(ocnt, "t", "left").select(
        "t", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("d")
    )
    w = Window.orderBy("t")
    pre = dem.select(
        "t",
        "d",
        F.sum("d").over(w).cast("long").alias("dd"),
        F.sum(F.col("t") * F.col("d")).over(w).cast("long").alias("ww"),
    ).cache()
    jf = pre.select(
        F.col("t").alias("j"),
        F.col("dd").alias("jdd"),
        F.col("ww").alias("jww"),
    )
    jp = pre.select(
        (F.col("t") + 1).alias("j"),
        F.col("dd").alias("pdd"),
        F.col("ww").alias("pww"),
    )
    tf = pre.select(
        F.col("t").alias("tt"), F.col("dd").alias("tdd"), F.col("ww").alias("tww")
    )
    cost = (
        jf.join(jp, "j", "left")
        .join(tf, F.col("tt") >= F.col("j"))
        .select(
            "j",
            F.col("tt").alias("t"),
            (
                _K
                + _H
                * (
                    (F.col("tww") - F.coalesce(F.col("pww"), F.lit(0)))
                    - F.col("j")
                    * (F.col("tdd") - F.coalesce(F.col("pdd"), F.lit(0)))
                )
            )
            .cast("long")
            .alias("c"),
        )
        .cache()
    )
    # DP fold (r11): the recursion used to run as a 12-round DRIVER loop
    # (createDataFrame + two .first() actions per round = 24 tiny jobs,
    # each paying full job-submission + planning latency — measured
    # 10-12 s at sf0.01 for microseconds of arithmetic). The horizon is
    # T = 12, so the whole Wagner-Whitin recursion is now ONE SQL fold
    # over the collected <= T*(T+1)/2-row cost table: f is a 1-indexed
    # array (element_at(f, j) = f(j-1)); per period, f_t = min over j<=t
    # of f(j-1)+c(j,t) and j* = the smallest j attaining it — identical
    # integer arithmetic and tie-break, one job instead of 24.
    carr = cost.agg(F.collect_list(F.struct("t", "j", "c")).alias("cs"))
    farr = F.expr(
        f"""
        aggregate(sequence(1, {_T}), array(0L),
          (f, i) -> concat(f, array(
              array_min(transform(filter(cs, x -> x.t = i),
                                  x -> element_at(f, int(x.j)) + x.c)))))
        """
    )
    res = (
        carr.select(farr.alias("farr"), "cs")
        .select(
            F.explode(
                F.expr(
                    f"""
            transform(sequence(1, {_T}), i -> named_struct(
              't', cast(i as bigint),
              'f', element_at(farr, i + 1),
              'js', array_min(transform(
                      filter(cs, x -> x.t = i
                             and element_at(farr, int(x.j)) + x.c
                                 = element_at(farr, i + 1)),
                      x -> x.j))))
            """
                )
            ).alias("r")
        )
        .select(F.col("r.t").alias("t"), F.col("r.f").alias("f"), F.col("r.js").alias("js"))
    )
    return (
        dem.join(res, "t")
        .select(
            F.col("t").alias("period"),
            F.col("d").alias("demand"),
            F.col("f").alias("optimal_cost_to_t"),
            F.col("js").alias("last_order_period"),
            (F.col("js") == F.col("t")).alias("orders_here"),
        )
        .orderBy("period")
    )
