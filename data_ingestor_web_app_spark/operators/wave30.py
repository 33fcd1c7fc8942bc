"""Wave-30: distribution windows, nonparametric tests, ACF, table diff.

Fills the remaining relational/statistical surface a warehouse user
expects: NTILE/PERCENT_RANK/CUME_DIST, value-frame windows
(FIRST/LAST/NTH), discrete percentiles, GROUPING_ID rollup audits,
two-sample Kolmogorov–Smirnov and Mann–Whitney U (the nonparametric
complements to the Welch t already shipped), lag-k autocorrelation of a
time series, rolling correlation between two series, snapshot diff
(added/removed/changed classification), and a 2-feature OLS fit via
normal equations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def _distributed_prefix_sum(df: DataFrame, order_col: str, sum_cols: list[str]) -> DataFrame:
    """Global running sums over a NUMERIC ``order_col`` with NO
    single-partition window (the sort_multi pattern): bucket rows by a
    DETERMINISTIC value-range split of the order key (min/max from one
    aggregate — NOT repartitionByRange, whose sampled boundaries are
    random-seeded and would disagree between the two downstream
    evaluations of this frame), per-bucket cumulative sums, then
    per-bucket TOTALS combined through a triangular join (b.bkt < a.bkt)
    to get each bucket's starting offset. Output = input columns +
    ``<c>_cum`` running sums.

    Requires distinct order keys (callers pre-aggregate to the key grain).
    Scale: the only all-to-one structure is the bucket-totals frame
    (n_buckets rows), joined triangularly — never a SinglePartition
    exchange over row data. Value-skewed keys skew buckets, not
    correctness; pathological skew would swap in quantile boundaries
    computed once and broadcast."""
    n_buckets = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
    stats = df.agg(F.min(order_col).alias("__mn"), F.max(order_col).alias("__mx"))
    span = F.col("__mx") - F.col("__mn")
    bkt = (
        F.when(span == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col(order_col) - F.col("__mn")) / span * n_buckets),
            )
        )
        .cast("int")
    )
    d = df.crossJoin(F.broadcast(stats)).withColumn("__bkt", bkt).drop("__mn", "__mx")
    wp = (
        Window.partitionBy("__bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = d.select(
        "*", *[F.sum(c).over(wp).alias(f"__local_{c}") for c in sum_cols]
    )
    tot = d.groupBy("__bkt").agg(*[F.sum(c).alias(f"__tot_{c}") for c in sum_cols])
    a = tot.alias("a")
    b = tot.alias("b")
    off = (
        a.join(b, F.col("b.__bkt") < F.col("a.__bkt"), "left")
        .groupBy(F.col("a.__bkt").alias("__bkt"))
        .agg(
            *[
                F.coalesce(F.sum(f"b.__tot_{c}"), F.lit(0)).alias(f"__off_{c}")
                for c in sum_cols
            ]
        )
    )
    return local.join(F.broadcast(off), "__bkt").select(
        *df.columns,
        *[(F.col(f"__local_{c}") + F.col(f"__off_{c}")).alias(f"{c}_cum") for c in sum_cols],
    )


@query(
    "win_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions per segment: quartile bucket,
    percent_rank, cume_dist — the ranking trio the engine had not yet
    exposed. Total order (acctbal, custkey) keeps every function
    deterministic and tie-free so the two engines agree bit-exactly.

    Scale shape: one hash partition per segment, one sort per partition —
    the same single-shuffle window plan as win_ranking; no global sort."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "win_value_frames",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
           ROUND(LAST_VALUE(o_totalprice) OVER w, 2) AS last_price,
           ROUND(NTH_VALUE(o_totalprice, 2) OVER w, 2) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE over an explicit full-partition
    frame: each order row carries its customer's first, latest, and second
    order price. The UNBOUNDED FOLLOWING frame is spelled out because the
    default window frame ends at CURRENT ROW — the classic LAST_VALUE
    footgun both engines share.

    Scale shape: one shuffle on custkey; frame evaluation is one pass per
    partition (the values are computed once per partition, not per row)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"),
    )


@query(
    "agg_percentile_disc",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    SELECT event_type,
           ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                          THEN value END), 4) AS p50_disc,
           ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                          THEN value END), 4) AS p90_disc
    FROM ranked GROUP BY event_type
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (the value actually present in the data, not
    an interpolation): p50/p90 per event type via the explicit ceil(p*n)
    row-pick, spelled out identically in both engines so the semantics are
    pinned rather than inherited from each engine's quantile flavor.

    Scale shape: one window sort per type; the pick is a per-row predicate
    + map-side MAX. At extreme cardinalities swap the exact sort for
    approx_percentile with the same output contract."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"), F.col("value"))
    )
    return ranked.groupBy("event_type").agg(
        F.round(pick(0.5), 4).alias("p50_disc"),
        F.round(pick(0.9), 4).alias("p90_disc"),
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT COALESCE(o_orderstatus, '__all__') AS status,
           COALESCE(o_orderpriority, '__all__') AS priority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with the GROUPING_ID marker — the bitmask that lets a
    report distinguish 'NULL because rolled up' from 'NULL in the data'.
    gid = 2*grouping(status) + grouping(priority), matching Spark's
    grouping_id() bit order (first grouping column = MSB).

    Scale shape: Spark expands grouping sets into one Expand + single
    aggregation (one shuffle for all four granularities — not four jobs)."""
    o = table(spark, sf_dir, "orders")
    agg = o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    return agg.select(
        F.coalesce("o_orderstatus", F.lit("__all__")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("__all__")).alias("priority"),
        "gid",
        "n_orders",
        "revenue",
    )


@query(
    "agg_ks_test",
    oracle="""
    WITH by_val AS (
        SELECT value,
               CAST(SUM((event_type = 'view')::INT) AS BIGINT) AS da,
               CAST(SUM((event_type = 'click')::INT) AS BIGINT) AS db
        FROM events WHERE event_type IN ('view', 'click')
        GROUP BY value
    ),
    swept AS (
        SELECT SUM(da) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ca,
               SUM(db) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cb
        FROM by_val
    ),
    tot AS (SELECT CAST(SUM(da) AS BIGINT) AS na,
                   CAST(SUM(db) AS BIGINT) AS nb FROM by_val)
    SELECT ROUND(MAX(ABS(ca * 1.0 / na - cb * 1.0 / nb)), 6) AS ks_d,
           MAX(na) AS n_a, MAX(nb) AS n_b
    FROM swept, tot
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic (drift detection between the
    'view' and 'click' value distributions): D = sup |ECDF_a − ECDF_b|,
    which is attained at data points — so collapse to per-DISTINCT-value
    counts first (one keyed shuffle), then one cumulative sweep over the
    collapsed series.

    Scale shape: raw rows collapse to distinct-value granularity before
    any ordered work; the sweep window's input is bounded by value
    cardinality, not event count (17.8k values vs 100k events at sf0.1 —
    and the gap widens at 100 TB). At extreme value cardinality the sweep
    range-partitions and stitches per-partition offsets (the engine's
    sort_multi pattern)."""
    e = table(spark, sf_dir, "events").where(F.col("event_type").isin("view", "click"))
    by_val = e.groupBy("value").agg(
        F.sum((F.col("event_type") == "view").cast("int")).cast("long").alias("da"),
        F.sum((F.col("event_type") == "click").cast("int")).cast("long").alias("db"),
    )
    swept = _distributed_prefix_sum(by_val, "value", ["da", "db"]).select(
        F.col("da_cum").alias("ca"), F.col("db_cum").alias("cb")
    )
    tot = by_val.agg(
        F.sum("da").cast("long").alias("na"), F.sum("db").cast("long").alias("nb")
    )
    return swept.crossJoin(F.broadcast(tot)).agg(
        F.round(F.max(F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb"))), 6).alias("ks_d"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
    )


@query(
    "agg_mann_whitney",
    oracle="""
    WITH tagged AS (
        SELECT value, (event_type = 'view')::INT AS in_a
        FROM events WHERE event_type IN ('view', 'click')
    ),
    by_val AS (
        SELECT value, COUNT(*) AS cnt, SUM(in_a) AS cnt_a
        FROM tagged GROUP BY value
    ),
    ranked AS (
        SELECT value, cnt, cnt_a,
               SUM(cnt) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) - cnt
                   AS rank_before
        FROM by_val
    )
    SELECT ROUND(SUM(cnt_a * (rank_before + (cnt + 1) / 2.0)), 2) AS rank_sum_a,
           CAST(SUM(cnt_a) AS BIGINT) AS n_a,
           CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
           ROUND(SUM(cnt_a * (rank_before + (cnt + 1) / 2.0))
                 - SUM(cnt_a) * (SUM(cnt_a) + 1) / 2.0, 2) AS u_stat
    FROM ranked
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) between the 'view' and 'click' value
    samples, with the textbook average-rank tie treatment: group by
    distinct value, average rank = ranks_before + (cnt+1)/2, U = R_a −
    n_a(n_a+1)/2. Never ranks row-by-row — ties are handled in aggregate,
    so the plan is a groupBy plus one ordered sweep over DISTINCT values.

    Scale shape: distinct-value cardinality bounds the window input (same
    sweep-stitching story as agg_ks_test at extreme scale)."""
    e = table(spark, sf_dir, "events").where(F.col("event_type").isin("view", "click"))
    by_val = e.groupBy("value").agg(
        F.count("*").alias("cnt"),
        F.sum((F.col("event_type") == "view").cast("int")).alias("cnt_a"),
    )
    ranked = _distributed_prefix_sum(by_val, "value", ["cnt"]).select(
        "cnt",
        "cnt_a",
        (F.col("cnt_cum") - F.col("cnt")).alias("rank_before"),
    )
    rank_sum_a = F.sum(F.col("cnt_a") * (F.col("rank_before") + (F.col("cnt") + 1) / 2.0))
    n_a = F.sum("cnt_a")
    return ranked.agg(
        F.round(rank_sum_a, 2).alias("rank_sum_a"),
        n_a.cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("n_b"),
        F.round(rank_sum_a - n_a * (n_a + 1) / 2.0, 2).alias("u_stat"),
    )


@query(
    "events_autocorrelation",
    oracle="""
    WITH series AS (
        SELECT DATE_TRUNC('minute', ts) AS m, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    lags AS (SELECT UNNEST([1, 2, 3, 4, 5]) AS lag_k),
    mom AS (
        SELECT l.lag_k,
               COUNT(*) AS np,
               CAST(SUM(cur.n) AS BIGINT) AS sx,
               CAST(SUM(prev.n) AS BIGINT) AS sy,
               CAST(SUM(cur.n * cur.n) AS BIGINT) AS sxx,
               CAST(SUM(prev.n * prev.n) AS BIGINT) AS syy,
               CAST(SUM(cur.n * prev.n) AS BIGINT) AS sxy
        FROM lags l
        CROSS JOIN series cur
        JOIN series prev ON prev.m = cur.m - TO_MINUTES(l.lag_k)
        GROUP BY l.lag_k
    )
    SELECT lag_k,
           ROUND(CASE WHEN (np * sxx - sx * sx) * (np * syy - sy * sy) = 0
                      THEN NULL
                      ELSE (np * sxy - sx * sy)
                           / SQRT(CAST((np * sxx - sx * sx) AS DOUBLE)
                                  * CAST((np * syy - sy * sy) AS DOUBLE))
                 END, 6) AS acf,
           np AS n_pairs
    FROM mom
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1..5) of the per-minute event-count
    series — the ACF profile that exposes periodicity/burst structure in
    ingest traffic. The series is aggregated FIRST (minutes, not events),
    then each lag is a self-join on minute − k.

    Correlation is computed from INTEGER moment sums (counts and products
    of counts are exact integers < 2^53) with one final double formula —
    both engines do bit-identical arithmetic, zero-variance series yield
    NULL instead of an ANSI divide-by-zero, and no float accumulation
    order can flap the hash.

    Scale shape: the raw corpus collapses to one row per minute before any
    join — the ACF joins touch |minutes| × 5 rows no matter how many
    billions of events fed them; moments are map-side-combined sums."""
    e = table(spark, sf_dir, "events")
    series = e.groupBy(F.date_trunc("minute", "ts").alias("m")).agg(F.count("*").alias("n"))
    lags = spark.range(1, 6).select(F.col("id").cast("int").alias("lag_k"))
    cur = series.select(F.col("m").alias("cm"), F.col("n").alias("cn"))
    prev = series.select(F.col("m").alias("pm"), F.col("n").alias("pn"))
    joined = (
        lags.crossJoin(cur)
        .join(
            prev,
            F.col("pm") == F.col("cm") - F.make_interval(mins=F.col("lag_k")),
        )
    )
    mom = joined.groupBy("lag_k").agg(
        F.count("*").alias("np"),
        F.sum("cn").cast("long").alias("sx"),
        F.sum("pn").cast("long").alias("sy"),
        F.sum(F.col("cn") * F.col("cn")).cast("long").alias("sxx"),
        F.sum(F.col("pn") * F.col("pn")).cast("long").alias("syy"),
        F.sum(F.col("cn") * F.col("pn")).cast("long").alias("sxy"),
    )
    vx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")
    acf = F.when(vx * vy == 0, F.lit(None)).otherwise(
        num / F.sqrt(vx.cast("double") * vy.cast("double"))
    )
    return mom.select(
        "lag_k",
        F.round(acf, 6).alias("acf"),
        F.col("np").alias("n_pairs"),
    )


@query(
    "events_rolling_corr",
    oracle="""
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS h,
               CAST(SUM((event_type = 'view')::INT) AS BIGINT) AS views,
               CAST(SUM((event_type = 'click')::INT) AS BIGINT) AS clicks
        FROM events GROUP BY 1
    )
    , mom AS (
        SELECT c.h, c.views, c.clicks,
               COUNT(*) AS np,
               CAST(SUM(m.views) AS BIGINT) AS sx,
               CAST(SUM(m.clicks) AS BIGINT) AS sy,
               CAST(SUM(m.views * m.views) AS BIGINT) AS sxx,
               CAST(SUM(m.clicks * m.clicks) AS BIGINT) AS syy,
               CAST(SUM(m.views * m.clicks) AS BIGINT) AS sxy
        FROM hourly c
        JOIN hourly m ON m.h <= c.h AND m.h > c.h - INTERVAL 24 HOURS
        GROUP BY c.h, c.views, c.clicks
    )
    SELECT STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hour,
           views, clicks,
           ROUND(CASE WHEN (np * sxx - sx * sx) * (np * syy - sy * sy) = 0
                      THEN NULL
                      ELSE (np * sxy - sx * sy)
                           / SQRT(CAST((np * sxx - sx * sx) AS DOUBLE)
                                  * CAST((np * syy - sy * sy) AS DOUBLE))
                 END, 6) AS corr_24h
    FROM mom
    """,
)
def events_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour correlation between the hourly view and click
    series — the co-movement monitor that flags when two metrics decouple
    (instrumentation breakage, bot traffic). Aggregate to hours first;
    then the trailing-24h frame is computed as an OFFSET-EXPLODE equi-join
    (each hour pairs with its 0..23-hour predecessors by timestamp
    arithmetic) + corr as a plain groupBy aggregate — no global-order
    window, so the series never funnels through a single partition, and
    the time-RANGE semantics stay correct across gaps in the series
    (a ROWS frame would silently reach past a gap).

    Scale shape: billions of events collapse to |hours| rows first; the
    frame join is |hours|×24 equi-keyed rows, shuffled on the hour key."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum((F.col("event_type") == "view").cast("int")).cast("long").alias("views"),
        F.sum((F.col("event_type") == "click").cast("int")).cast("long").alias("clicks"),
    )
    centers = hourly.select(
        F.col("h").alias("ch"),
        F.col("views").alias("cviews"),
        F.col("clicks").alias("cclicks"),
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("off"),
    ).select("ch", "cviews", "cclicks", (F.col("ch") - F.make_interval(hours=F.col("off"))).alias("mh"))
    joined = centers.join(hourly, F.col("mh") == F.col("h"))
    mom = joined.groupBy("ch", "cviews", "cclicks").agg(
        F.count("*").alias("np"),
        F.sum("views").cast("long").alias("sx"),
        F.sum("clicks").cast("long").alias("sy"),
        F.sum(F.col("views") * F.col("views")).cast("long").alias("sxx"),
        F.sum(F.col("clicks") * F.col("clicks")).cast("long").alias("syy"),
        F.sum(F.col("views") * F.col("clicks")).cast("long").alias("sxy"),
    )
    vx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")
    cc = F.when(vx * vy == 0, F.lit(None)).otherwise(
        num / F.sqrt(vx.cast("double") * vy.cast("double"))
    )
    return mom.select(
        F.date_format("ch", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("cviews").alias("views"),
        F.col("cclicks").alias("clicks"),
        F.round(cc, 6).alias("corr_24h"),
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH v2 AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 2000000000, 'N', ROUND(o_totalprice, 2)
        FROM orders WHERE o_orderkey % 500 = 3
    ),
    classified AS (
        SELECT CASE
                 WHEN v1.o_orderkey IS NULL THEN 'added'
                 WHEN v2.o_orderkey IS NULL THEN 'removed'
                 WHEN v1.o_totalprice <> v2.o_totalprice
                   OR v1.o_orderstatus <> v2.o_orderstatus THEN 'changed'
                 ELSE 'unchanged'
               END AS change,
               COALESCE(v1.o_orderkey, v2.o_orderkey) AS k
        FROM orders v1 FULL OUTER JOIN v2 USING (o_orderkey)
    )
    SELECT change, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
    FROM classified GROUP BY change
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the table-format audit primitive: classify every key
    across two table versions as added / removed / changed / unchanged via
    ONE full-outer join on the key, summarized per class. v2 is derived
    deterministically from v1 (price bump on %7, delete %13, insert %500
    with shifted keys) so the oracle replays the same diff.

    Scale shape: one key-equi full-outer shuffle join; with both versions
    bucketed by key (how snapshots are actually laid out) the diff is
    co-partitioned and shuffle-free. Never a row-hash cartesian."""
    v1 = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    v2 = (
        v1.where(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1000.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            v1.where(F.col("o_orderkey") % 500 == 3).select(
                (F.col("o_orderkey") + 2000000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.round("o_totalprice", 2).alias("o_totalprice"),
            )
        )
    )
    a = v1.alias("v1")
    b = v2.alias("v2")
    joined = a.join(b, F.col("v1.o_orderkey") == F.col("v2.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("v1.o_orderkey").isNull(), "added")
        .when(F.col("v2.o_orderkey").isNull(), "removed")
        .when(
            (F.col("v1.o_totalprice") != F.col("v2.o_totalprice"))
            | (F.col("v1.o_orderstatus") != F.col("v2.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            change.alias("change"),
            F.coalesce(F.col("v1.o_orderkey"), F.col("v2.o_orderkey")).alias("k"),
        )
        .groupBy("change")
        .agg(F.count("*").alias("n"), F.min("k").alias("min_key"), F.max("k").alias("max_key"))
    )


@query(
    "graph_kcore_unrolled",
    oracle="""
    WITH nodes AS (SELECT n_nationkey AS v FROM nation),
    edges0 AS (
        SELECT v AS src, (v + j) % 25 AS dst
        FROM nodes CROSS JOIN (SELECT UNNEST([1, 2, 3, 4]) AS j)
        WHERE j <= (v % 4) + 1
    ),
    deg1 AS (SELECT src AS v, COUNT(*) AS d FROM
             (SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)
             GROUP BY src),
    keep1 AS (SELECT v FROM deg1 WHERE d >= 4),
    edges1 AS (SELECT e.src, e.dst FROM edges0 e
               JOIN keep1 a ON a.v = e.src JOIN keep1 b ON b.v = e.dst),
    deg2 AS (SELECT src AS v, COUNT(*) AS d FROM
             (SELECT src, dst FROM edges1 UNION ALL SELECT dst, src FROM edges1)
             GROUP BY src),
    keep2 AS (SELECT v FROM deg2 WHERE d >= 4),
    edges2 AS (SELECT e.src, e.dst FROM edges1 e
               JOIN keep2 a ON a.v = e.src JOIN keep2 b ON b.v = e.dst),
    deg3 AS (SELECT src AS v, COUNT(*) AS d FROM
             (SELECT src, dst FROM edges2 UNION ALL SELECT dst, src FROM edges2)
             GROUP BY src)
    SELECT v, CAST(d AS BIGINT) AS core_degree FROM deg3 WHERE d >= 4
    """,
)
def graph_kcore_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core extraction on a variable-fanout synthetic graph over nation
    (node v emits (v%4)+1 forward edges — the degree spread makes peeling
    actually cascade: round 1 removes the low-fanout vertices, round 2
    removes vertices whose support they were). Peeling is unrolled 3
    rounds — like graph_pagerank_unrolled, iteration count is FIXED so the
    plan is static and oracle-replayable; real deployments loop with
    localCheckpoint per round until the frontier empties.

    Scale shape: each round is degree-groupBy + two semi-joins on the
    surviving vertex set — all keyed shuffles on v; no adjacency matrix,
    no driver state."""
    nodes = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("v"))
    js = spark.range(1, 5).select(F.col("id").cast("int").alias("j"))
    edges = (
        nodes.crossJoin(js)
        .where(F.col("j") <= (F.col("v") % 4) + 1)
        .select(F.col("v").alias("src"), ((F.col("v") + F.col("j")) % 25).alias("dst"))
    )

    def peel(e: DataFrame) -> tuple[DataFrame, DataFrame]:
        und = e.select("src", "dst").unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = und.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
        keep = deg.where(F.col("d") >= 4).select("v")
        ne = (
            e.join(keep.select(F.col("v").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("v").alias("dst")), "dst", "left_semi")
        )
        return ne, deg

    e1, _ = peel(edges)
    e2, _ = peel(e1)
    _, deg3 = peel(e2)
    return deg3.where(F.col("d") >= 4).select("v", F.col("d").cast("long").alias("core_degree"))


@query(
    "agg_ols_two_feature",
    oracle="""
    WITH pts AS (
        SELECT value AS y,
               CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS x1,
               CAST(EXTRACT(dow FROM ts) AS DOUBLE) AS x2
        FROM events
    ),
    m AS (
        SELECT COUNT(*) AS n,
               SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
               SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
               SUM(x1 * x2) AS s12, SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
        FROM pts
    ),
    c AS (
        SELECT n,
               s11 - s1 * s1 / n AS a11, s12 - s1 * s2 / n AS a12,
               s22 - s2 * s2 / n AS a22,
               s1y - s1 * sy / n AS b1,  s2y - s2 * sy / n AS b2,
               s1 / n AS mx1, s2 / n AS mx2, sy / n AS my
        FROM m
    )
    SELECT ROUND((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 6) AS beta1,
           ROUND((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12), 6) AS beta2,
           ROUND(my - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * mx1
                    - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * mx2,
                 6) AS intercept,
           n
    FROM c
    """,
)
def agg_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (value ~ hour-of-day + day-of-week) via the closed
    form: accumulate the 9 sufficient moments in ONE pass, solve the 2×2
    normal equations with Cramer's rule in the projection. Extends the
    single-feature agg_linreg to the multivariate shape every metrics
    warehouse wants without any iterative solver.

    Scale shape: one map-side-combined global aggregate (9 doubles of
    state per partition) — the textbook algebraic-aggregate pattern; model
    solve is O(1) on the single moment row."""
    e = table(spark, sf_dir, "events")
    pts = e.select(
        F.col("value").alias("y"),
        F.hour("ts").cast("double").alias("x1"),
        (F.dayofweek("ts").cast("double") - 1).alias("x2"),  # Spark Sun=1, DuckDB dow Sun=0
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    c = m.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("a11"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("a12"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("a22"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("b1"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("b2"),
        (F.col("s1") / F.col("n")).alias("mx1"),
        (F.col("s2") / F.col("n")).alias("mx2"),
        (F.col("sy") / F.col("n")).alias("my"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    beta1 = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    beta2 = (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
    return c.select(
        F.round(beta1, 6).alias("beta1"),
        F.round(beta2, 6).alias("beta2"),
        F.round(F.col("my") - beta1 * F.col("mx1") - beta2 * F.col("mx2"), 6).alias("intercept"),
        "n",
    )
