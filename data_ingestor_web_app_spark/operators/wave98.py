"""Wave-98: Holt-Winters additive seasonal smoothing, Spearman rank
correlation via doubled midranks, and cross-field data-quality rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_holt_winters",
    oracle="""
    WITH RECURSIVE series AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT d, CAST(x AS DOUBLE) AS x,
               ROW_NUMBER() OVER (ORDER BY d) AS rn
        FROM series
    ),
    hw(rn, l, b, c1, c2, c3, c4, c5, c6, c7) AS (
        SELECT 7,
               (SELECT x FROM idx WHERE rn = 1), CAST(0.0 AS DOUBLE),
               CAST(0.0 AS DOUBLE),
               (SELECT x FROM idx WHERE rn = 2) - (SELECT x FROM idx WHERE rn = 1),
               (SELECT x FROM idx WHERE rn = 3) - (SELECT x FROM idx WHERE rn = 1),
               (SELECT x FROM idx WHERE rn = 4) - (SELECT x FROM idx WHERE rn = 1),
               (SELECT x FROM idx WHERE rn = 5) - (SELECT x FROM idx WHERE rn = 1),
               (SELECT x FROM idx WHERE rn = 6) - (SELECT x FROM idx WHERE rn = 1),
               (SELECT x FROM idx WHERE rn = 7) - (SELECT x FROM idx WHERE rn = 1)
        UNION ALL
        SELECT h.rn + 1,
               0.5 * (i.x - h.c1) + 0.5 * (h.l + h.b),
               0.5 * ((0.5 * (i.x - h.c1) + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b,
               h.c2, h.c3, h.c4, h.c5, h.c6, h.c7,
               0.5 * (i.x - (0.5 * (i.x - h.c1) + 0.5 * (h.l + h.b))) + 0.5 * h.c1
        FROM hw h JOIN idx i ON i.rn = h.rn + 1
    )
    SELECT (SELECT CAST(MAX(rn) AS BIGINT) FROM idx) AS n_days,
           ROUND(h.l, 6) AS level,
           ROUND(h.b, 6) AS trend,
           ROUND(h.c1, 6) AS next_season,
           ROUND(h.l + h.b + h.c1, 6) AS forecast_next
    FROM hw h
    WHERE h.rn = (SELECT MAX(rn) FROM idx)
    """,
)
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple-exponential smoothing (Winters
    1960, public) with weekly seasonality over the daily event-count
    series: level + trend + a rotating 7-slot seasonal state, all
    smoothing constants 1/2, one-step-ahead forecast — completing the
    forecasting ladder (naive backtest → Holt → Holt-Winters) with the
    model that actually fits weekly product traffic.

    Determinism: the recurrence is inherently sequential, so BOTH
    engines execute the IDENTICAL operation sequence — Spark as an
    ordered sort_array + aggregate fold, DuckDB as a recursive CTE —
    giving bit-identical doubles at every step (the
    events_holt_smoothing pattern, extended to 9-component state);
    display rounds 6dp.

    Scale shape: the corpus collapses to |days| rows map-side; the fold
    is per-series sequential BY DESIGN (that is the algorithm) — at
    100 TB this runs per metric key in parallel, each key's series
    tiny."""
    series = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    packed = series.agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("arr"),
        F.count("*").cast("long").alias("n_days"),
    )
    folded = packed.select(
        "n_days",
        F.expr(
            """
            aggregate(
              slice(arr, 8, size(arr) - 7),
              named_struct(
                'l', cast(element_at(arr, 1).x as double),
                'b', cast(0.0 as double),
                's', array(
                    cast(0.0 as double),
                    element_at(arr, 2).x - element_at(arr, 1).x,
                    element_at(arr, 3).x - element_at(arr, 1).x,
                    element_at(arr, 4).x - element_at(arr, 1).x,
                    element_at(arr, 5).x - element_at(arr, 1).x,
                    element_at(arr, 6).x - element_at(arr, 1).x,
                    element_at(arr, 7).x - element_at(arr, 1).x)),
              (st, el) -> named_struct(
                'l', 0.5D * (el.x - element_at(st.s, 1))
                     + 0.5D * (st.l + st.b),
                'b', 0.5D * ((0.5D * (el.x - element_at(st.s, 1))
                              + 0.5D * (st.l + st.b)) - st.l) + 0.5D * st.b,
                's', concat(slice(st.s, 2, 6),
                            array(0.5D * (el.x
                                  - (0.5D * (el.x - element_at(st.s, 1))
                                     + 0.5D * (st.l + st.b)))
                                  + 0.5D * element_at(st.s, 1))))
            )
            """
        ).alias("st"),
    )
    return folded.select(
        "n_days",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.element_at(F.col("st.s"), 1), 6).alias("next_season"),
        F.round(
            F.col("st.l") + F.col("st.b") + F.element_at(F.col("st.s"), 1), 6
        ).alias("forecast_next"),
    )


@query(
    "agg_spearman_rho",
    oracle="""
    WITH vals AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p
        FROM lineitem
    ),
    ranked AS (
        SELECT CAST(2 * RANK() OVER (ORDER BY q)
                    + COUNT(*) OVER (PARTITION BY q) - 1 AS BIGINT) AS rx,
               CAST(2 * RANK() OVER (ORDER BY p)
                    + COUNT(*) OVER (PARTITION BY p) - 1 AS BIGINT) AS ry
        FROM vals
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(CAST(rx AS HUGEINT) * rx) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ry AS HUGEINT) * ry) AS DOUBLE) AS syy,
               CAST(SUM(CAST(rx AS HUGEINT) * ry) AS DOUBLE) AS sxy
        FROM ranked
    )
    SELECT n,
           ROUND((sxy - CAST(sx AS DOUBLE) * sy / n)
                 / SQRT((sxx - CAST(sx AS DOUBLE) * sx / n)
                        * (syy - CAST(sy AS DOUBLE) * sy / n)), 6)
               AS spearman_rho
    FROM m
    """,
)
def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (1904, public) between order quantity
    and extended price: Pearson correlation applied to midranks — the
    monotone-association measure that completes the correlation family
    (Pearson in agg_corr_covar, Kendall-trend in agg_mann_kendall)
    and the robust default for skewed business metrics.

    Determinism: midranks live in halves, so DOUBLED ranks
    (2·rank + ties - 1) are exact integers; squared-rank sums
    accumulate in HUGEINT/DECIMAL(38,0) (they pass 2^63 at sf0.1) and
    cast ONCE to double; rho is one fixed formula rounded 6dp (the
    doubling cancels between numerator and denominator).

    Scale shape (r8 rework, VERDICT r7 item 4): every row tied at value
    v carries the same doubled midrank 2·below(v) + k(v) + 1, so both
    rank maps come from distinct-VALUE cumulative-count frames (windows
    over Aggregates, never raw corpus rows) and the moment sums are
    weighted by the distinct (q, p) pair counts — two small joins on
    the collapsed pair frame instead of two corpus-wide rank windows."""
    vals = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
    )
    # r11 moment decomposition (guide §2.3/§2.4): rx depends only on q and
    # ry only on p, so every moment collapses onto the marginal frames —
    #   sx  = Σ_q kq·rx        sxx = Σ_q kq·rx²      (50-row q frame)
    #   sy  = Σ_p kp·ry        syy = Σ_p kp·ry²      (distinct-p frame)
    #   sxy = Σ_p ry·(Σ rows at p of rx) = Σ_p bp·ry
    # The old plan built a groupBy(q,p) pairs frame (~|corpus| rows: p is
    # near-unique) and sort-merge-joined both rank maps back onto it; now
    # the only corpus-wide shuffle is ONE partial-aggregated groupBy(p)
    # (kp, bp), with rx attached by a 50-row broadcast join. Integer/
    # decimal sums are identical term-reorderings of the same products, so
    # the final doubles are bit-equal.
    qs = vals.groupBy("q").agg(F.count("*").cast("long").alias("kq"))
    wq = Window.orderBy("q")
    rxs = qs.select(
        "q",
        "kq",
        (2 * (F.sum("kq").over(wq) - F.col("kq")) + F.col("kq") + 1)
        .cast("long")
        .alias("rx"),
    )
    kqd = F.col("kq").cast("decimal(38,0)")
    mq = rxs.agg(
        F.sum("kq").cast("long").alias("n"),
        F.sum(F.col("kq") * F.col("rx")).cast("long").alias("sx"),
        F.sum(kqd * F.col("rx") * F.col("rx")).cast("double").alias("sxx"),
    )
    ps = (
        vals.join(F.broadcast(rxs.select("q", "rx")), "q")
        .groupBy("p")
        .agg(
            F.count("*").cast("long").alias("kp"),
            F.sum("rx").cast("long").alias("bp"),
        )
    )
    wp = Window.orderBy("p")
    rys = ps.select(
        "kp",
        "bp",
        (2 * (F.sum("kp").over(wp) - F.col("kp")) + F.col("kp") + 1)
        .cast("long")
        .alias("ry"),
    )
    kpd = F.col("kp").cast("decimal(38,0)")
    bpd = F.col("bp").cast("decimal(38,0)")
    mp = rys.agg(
        F.sum(F.col("kp") * F.col("ry")).cast("long").alias("sy"),
        F.sum(kpd * F.col("ry") * F.col("ry")).cast("double").alias("syy"),
        F.sum(bpd * F.col("ry")).cast("double").alias("sxy"),
    )
    m = mq.crossJoin(F.broadcast(mp))
    num = F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    den = F.sqrt(
        (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        * (F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n"))
    )
    return m.select("n", F.round(num / den, 6).alias("spearman_rho"))


@query(
    "dq_cross_field_rules",
    oracle="""
    WITH joined AS (
        SELECT l_shipdate, l_discount, l_extendedprice, o_orderdate
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    line_rules AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
                    AS BIGINT) AS v_ship,
               CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
               CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS v_price
        FROM joined
    ),
    order_rule AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN ABS(o_totalprice - line_sum)
                                  > 0.5 * o_totalprice
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_total
        FROM (
            SELECT o.o_totalprice, SUM(l.l_extendedprice) AS line_sum
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_totalprice
        )
    )
    SELECT rule, n_checked, n_violations,
           ROUND(n_violations * 1.0 / n_checked, 6) AS violation_rate
    FROM (
        SELECT 'discount_out_of_band' AS rule, n AS n_checked,
               v_disc AS n_violations FROM line_rules
        UNION ALL
        SELECT 'nonpositive_price', n, v_price FROM line_rules
        UNION ALL
        SELECT 'order_line_total_gap', n_orders, v_total FROM order_rule
        UNION ALL
        SELECT 'ship_before_order', n, v_ship FROM line_rules
    )
    ORDER BY rule
    """,
)
def dq_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field consistency rules (the multi-column data-quality
    layer above single-column expectations): ship-before-order,
    discount-band and nonpositive-price checks per line, plus the
    cross-ROW order-vs-line-total reconciliation (order headers whose
    total is >50% away from the sum of their lines) — dq_expectations
    checks columns in isolation; real pipeline bugs live BETWEEN
    columns and BETWEEN grains (and this fixture genuinely contains
    negative order→ship lags, so the report is non-trivial).

    Determinism: comparisons and counts are exact integers; one
    division per rule, rounded 6dp.

    Scale shape: one keyed join + one conditional aggregate for the
    line rules; the reconciliation is a keyed groupBy per order — two
    map-side-combined passes total, no rule rescans raw data."""
    joined = table(spark, sf_dir, "lineitem").join(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    line_rules = joined.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0))
        .cast("long")
        .alias("v_ship"),
        F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1).otherwise(0))
        .cast("long")
        .alias("v_disc"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("v_price"),
    )
    per_order = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .join(
            table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.sum("l_extendedprice").alias("line_sum"))
    )
    order_rule = per_order.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(
            F.when(
                F.abs(F.col("o_totalprice") - F.col("line_sum"))
                > 0.5 * F.col("o_totalprice"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_total"),
    )
    # r11: the 3 lineitem-rule rows come from ONE explode(array(struct...))
    # over the single-row rule aggregate — the old per-rule unionByName
    # re-executed the lineitem aggregate per branch. The order-level rule is
    # a genuinely different subtree and stays its own union branch.
    rule_structs = [
        F.struct(
            F.lit(name).alias("rule"),
            F.col("n").alias("n_checked"),
            F.col(col).alias("n_violations"),
            F.round(F.col(col) / F.col("n"), 6).alias("violation_rate"),
        )
        for name, col in [
            ("discount_out_of_band", "v_disc"),
            ("nonpositive_price", "v_price"),
            ("ship_before_order", "v_ship"),
        ]
    ]
    line_out = line_rules.select(
        F.explode(F.array(*rule_structs)).alias("r")
    ).select("r.*")
    order_out = order_rule.select(
        F.lit("order_line_total_gap").alias("rule"),
        F.col("n_orders").alias("n_checked"),
        F.col("v_total").alias("n_violations"),
        F.round(F.col("v_total") / F.col("n_orders"), 6).alias("violation_rate"),
    )
    return line_out.unionByName(order_out).orderBy("rule")
