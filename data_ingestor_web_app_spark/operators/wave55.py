"""Wave-55: cumulative unique users, Theil–Sen robust trend,
l-diversity privacy audit, n-gram contamination fraction, bot-likeness
scoring from inter-arrival moments, type-token-ratio length buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_cumulative_unique",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    daily AS (SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d),
    alld AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT STRFTIME(j.d, '%Y-%m-%d') AS d,
           CAST(j.new_users AS BIGINT) AS new_users,
           CAST(SUM(j.new_users) OVER (ORDER BY j.d) AS BIGINT) AS cum_users
    FROM (
        SELECT alld.d, COALESCE(daily.new_users, 0) AS new_users
        FROM alld LEFT JOIN daily ON daily.d = alld.d
    ) j
    """,
)
def events_cumulative_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative unique-user curve: per day, how many users were seen
    for the FIRST time, and the running total of distinct users ever
    seen — the growth chart every ingest service (the reference counts
    totalConnections forever, /root/reference/main.go:60-65) reports,
    computed without a running-distinct state: first-seen collapses each
    user to one row, so the cumulative sum is over per-day counts.

    Scale shape: one user_id groupBy (map-side combined) collapses the
    raw stream; the cumulative window runs over #days rows (~30), not
    #events — bounded single-partition tail by construction."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d"))
    daily = first_seen.groupBy("d").agg(F.count("*").alias("new_users"))
    alld = e.select(F.col("ts").cast("date").alias("d")).distinct()
    j = alld.join(daily, "d", "left").select(
        "d", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("d")  # bounded: one row per calendar day
    return j.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@query(
    "agg_theil_sen",
    oracle="""
    WITH m AS (
        SELECT CAST(YEAR(l_shipdate) * 12 + MONTH(l_shipdate) AS BIGINT) AS idx,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY 1
    ),
    p AS (
        SELECT a.idx AS ai, b.idx AS bi,
               (b.cents - a.cents) / 100.0 / (b.idx - a.idx) AS slope
        FROM m a JOIN m b ON b.idx > a.idx
    ),
    med AS (
        SELECT slope FROM (
            SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, ai, bi) AS rn,
                   COUNT(*) OVER () AS cnt
            FROM p
        ) WHERE rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_months,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_pairs,
           ROUND((SELECT MIN(slope) FROM p), 6) AS min_slope,
           ROUND((SELECT MAX(slope) FROM p), 6) AS max_slope,
           ROUND((SELECT slope FROM med), 6) AS theil_sen_slope
    """,
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator over the monthly revenue series:
    the median of all pairwise slopes — up to ~29% of months can be
    wild outliers (holiday spikes, outage craters) without moving the
    estimate, where OLS (agg_linreg) chases every excursion.

    Determinism: monthly revenue in exact integer cents (BIGINT sums);
    every slope is one double expression over exact integers, so both
    engines enumerate bit-identical slope sets; the median picks by a
    totally-ordered (slope, i, j) rank.

    Scale shape: the fact table collapses to one row per month in a
    map-side-combined groupBy; the O(k²) pair enumeration and the
    median window run over that ~83-row aggregate series (bounded by the
    calendar, not the data) — at 100 TB the pair stage is unchanged."""
    li = table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("long").alias("idx")
    ).agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents"))
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(b, F.col("b.idx") > F.col("a.idx")).select(
        F.col("a.idx").alias("ai"),
        F.col("b.idx").alias("bi"),
        (
            (F.col("b.cents") - F.col("a.cents")) / 100.0 / (F.col("b.idx") - F.col("a.idx"))
        ).alias("slope"),
    )
    w = Window.orderBy("slope", "ai", "bi")  # bounded: k*(k-1)/2 month pairs
    ranked = pairs.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("cnt"),
    )
    median = ranked.where(
        F.col("rn") == F.floor((F.col("cnt") + 1) / 2).cast("long")
    ).select(F.round("slope", 6).alias("theil_sen_slope"))
    summary = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.min("slope"), 6).alias("min_slope"),
        F.round(F.max("slope"), 6).alias("max_slope"),
    )
    n_months = m.agg(F.count("*").alias("n_months"))
    return (
        n_months.crossJoin(summary)
        .crossJoin(median)
        .select("n_months", "n_pairs", "min_slope", "max_slope", "theil_sen_slope")
    )


@query(
    "privacy_l_diversity",
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment AS segment, n.n_name AS nation,
               YEAR(o.o_orderdate) AS y, MONTH(o.o_orderdate) AS m,
               o.o_orderpriority AS sensitive
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
        SELECT segment, nation, y, m, COUNT(*) AS sz,
               COUNT(DISTINCT sensitive) AS l
        FROM j GROUP BY segment, nation, y, m
    ),
    v AS (
        SELECT segment,
               CASE WHEN sz < 5 THEN 'k_violation'
                    WHEN l < 3 THEN 'l_violation'
                    ELSE 'ok' END AS verdict,
               sz, l
        FROM g
    )
    SELECT segment, verdict,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(MAX(l) AS BIGINT) AS max_l
    FROM v GROUP BY segment, verdict
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE'06, public)
    complementing privacy_k_anonymity: for each quasi-identifier group
    (segment, nation, order year+month), is the SENSITIVE attribute
    (order priority) diverse enough (l >= 3) — a group can satisfy
    k-anonymity yet leak the sensitive value when everyone in it shares
    one priority. Emits the per-segment rollup of group verdicts.

    Scale shape: customer×nation joins are broadcast-sized dims; one
    shuffle on o_custkey, one map-side-combined QI groupBy (the distinct
    count is per-group exact over 5 priority values), then a tiny
    verdict rollup."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.col("o_orderpriority").alias("sensitive"),
        )
    )
    g = j.groupBy("segment", "nation", "y", "m").agg(
        F.count("*").alias("sz"), F.countDistinct("sensitive").alias("l")
    )
    verdict = (
        F.when(F.col("sz") < 5, "k_violation")
        .when(F.col("l") < 3, "l_violation")
        .otherwise("ok")
    )
    return (
        g.select("segment", verdict.alias("verdict"), "sz", "l")
        .groupBy("segment", "verdict")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("sz").cast("long").alias("n_rows"),
            F.min("l").cast("long").alias("min_l"),
            F.max("l").cast("long").alias("max_l"),
        )
    )


@query(
    "pipeline_contamination_fraction",
    oracle="""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    flat AS (
        SELECT doc_id, UNNEST(t) AS tok, GENERATE_SUBSCRIPTS(t, 1) AS i
        FROM toks
    ),
    grams AS (
        SELECT f1.doc_id,
               f1.tok || ' ' || f2.tok || ' ' || f3.tok || ' ' || f4.tok AS g
        FROM flat f1
        JOIN flat f2 ON f2.doc_id = f1.doc_id AND f2.i = f1.i + 1
        JOIN flat f3 ON f3.doc_id = f1.doc_id AND f3.i = f1.i + 2
        JOIN flat f4 ON f4.doc_id = f1.doc_id AND f4.i = f1.i + 3
    ),
    eval_grams AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
    ),
    train AS (
        SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 10 <> 0
    ),
    per AS (
        SELECT t.doc_id,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
        FROM train t LEFT JOIN eval_grams e ON e.g = t.g
        GROUP BY t.doc_id
    )
    SELECT p.doc_id, d.source,
           CAST(p.n_grams AS BIGINT) AS n_grams,
           CAST(p.n_overlap AS BIGINT) AS n_overlap,
           ROUND(p.n_overlap * 1.0 / p.n_grams, 6) AS contamination,
           CASE WHEN p.n_overlap * 4 >= p.n_grams THEN 'drop' ELSE 'keep' END
               AS verdict
    FROM per p JOIN documents d ON d.doc_id = p.doc_id
    WHERE p.n_overlap > 0
    """,
)
def pipeline_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded n-gram decontamination (the PaLM/Llama-style refinement of
    pipeline_decontaminate's binary any-overlap rule, public): per
    training doc, the FRACTION of its distinct 4-grams that appear
    anywhere in the held-out eval set (doc_id % 10 == 0); docs at >= 25%
    overlap are dropped, lightly-touched docs are kept — binary rules
    throw away an order of magnitude more data than graded ones.

    Determinism: counts and an exact integer ratio; the 25% threshold
    compares integers (n_overlap*4 >= n_grams), never a float.

    Scale shape: grams explode once and dedup per doc with map-side
    partials; the membership test is a shuffle join on the gram string
    against the distinct eval-gram set (AQE broadcasts it when small);
    per-doc rollup is map-side combined. No all-pairs anywhere."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 4 THEN transform(sequence(0, size(t) - 4), "
                "i -> concat(t[i], ' ', t[i+1], ' ', t[i+2], ' ', t[i+3])) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    eval_grams = grams.where(F.col("doc_id") % 10 == 0).select("g").distinct()
    train = grams.where(F.col("doc_id") % 10 != 0).select("doc_id", "g").distinct()
    per = (
        train.join(eval_grams.withColumn("hit", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.count("hit").alias("n_overlap"))
        .where(F.col("n_overlap") > 0)
    )
    return per.join(d.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "source",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") * 1.0 / F.col("n_grams"), 6).alias("contamination"),
        F.when(F.col("n_overlap") * 4 >= F.col("n_grams"), "drop")
        .otherwise("keep")
        .alias("verdict"),
    )


@query(
    "events_bot_score",
    oracle="""
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS us,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    ),
    per AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               COUNT(gap) AS n_gaps,
               CAST(SUM(gap) AS BIGINT) AS s1,
               CAST(SUM(CAST(gap AS HUGEINT) * gap) AS DOUBLE) AS s2d,
               CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us
        FROM seq GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           ROUND(SQRT(GREATEST(s2d / n_gaps - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps), 0))
                 / (s1 * 1.0 / n_gaps), 6) AS gap_cv,
           ROUND(n_events * 60000000.0 / span_us, 6) AS rate_per_min,
           CASE WHEN SQRT(GREATEST(s2d / n_gaps - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps), 0))
                     / (s1 * 1.0 / n_gaps) < 0.9 THEN 'metronomic'
                WHEN SQRT(GREATEST(s2d / n_gaps - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps), 0))
                     / (s1 * 1.0 / n_gaps) > 1.05 THEN 'bursty'
                ELSE 'organic' END AS cadence
    FROM per WHERE n_gaps >= 20 AND s1 > 0
    """,
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness cadence profile per user: coefficient of variation
    of inter-arrival gaps plus events-per-active-minute. A Poisson
    (human) arrival process has CV ~= 1; scripted clients are
    metronomic (CV << 1) and scrapers burst (CV >> 1) — the standard
    first-pass traffic triage before rate-limiting (the reference's
    admission control, /root/reference/main.go:237-256, drops by count
    only; this ranks WHO to drop).

    Determinism: microsecond gaps are exact integers; the second moment
    sums in 128-bit exactly (Spark DECIMAL(38,0) / DuckDB HUGEINT) and
    converts to double once, so CV is one fixed double formula over
    identical exact inputs in both engines.

    Scale shape: one LAG window partitioned by user (the same shuffle
    the per-user rollup needs — one exchange total), then map-side
    combined moment sums. No global state."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = e.select(
        "user_id", us.alias("us"), (us - F.lag(us).over(w)).alias("gap")
    )
    per = seq.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count("gap").alias("n_gaps"),
        F.sum("gap").cast("long").alias("s1"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap"))
        .cast("double")
        .alias("s2d"),
        (F.max("us") - F.min("us")).cast("long").alias("span_us"),
    )
    mean = F.col("s1") * 1.0 / F.col("n_gaps")
    cv = F.sqrt(F.greatest(F.col("s2d") / F.col("n_gaps") - mean * mean, F.lit(0.0))) / mean
    return per.where((F.col("n_gaps") >= 20) & (F.col("s1") > 0)).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(cv, 6).alias("gap_cv"),
        F.round(F.col("n_events") * 60000000.0 / F.col("span_us"), 6).alias("rate_per_min"),
        F.when(cv < 0.9, "metronomic")
        .when(cv > 1.05, "bursty")
        .otherwise("organic")
        .alias("cadence"),
    )


@query(
    "text_ttr_buckets",
    oracle="""
    WITH per AS (
        SELECT doc_id,
               LEN(STRING_SPLIT(text, ' ')) AS n_tok,
               LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_types
        FROM documents
    )
    SELECT CAST(FLOOR(n_tok / 32.0) AS BIGINT) AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok,
           ROUND(AVG(n_types * 1.0 / n_tok), 6) AS avg_ttr,
           ROUND(MIN(n_types * 1.0 / n_tok), 6) AS min_ttr
    FROM per GROUP BY 1
    """,
)
def text_ttr_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by document-length bucket: lexical diversity
    (distinct tokens / tokens) collapses as documents grow (Herdan's
    law), so a single corpus-wide TTR threshold mis-filters long docs —
    bucketing by length (32-token bins) is how quality pipelines apply
    TTR fairly. Low-TTR outliers inside a bucket are the template/spam
    candidates text_repetition_ratios then inspects.

    Scale shape: per-doc arithmetic is array functions in one projection
    (no explode, no shuffle); the bucket rollup is map-side combined."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    per = d.select(
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    )
    ttr = F.col("n_types") * 1.0 / F.col("n_tok")
    return per.groupBy(
        F.floor(F.col("n_tok") / 32.0).cast("long").alias("len_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_tok").cast("long").alias("min_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
        F.round(F.avg(ttr), 6).alias("avg_ttr"),
        F.round(F.min(ttr), 6).alias("min_ttr"),
    )
