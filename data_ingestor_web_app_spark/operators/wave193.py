"""Wave-193: Page's L test for ordered alternatives, the Lepage combined
location-scale two-sample test, and Base58 short-key encoding.

Page's L is the ordered-alternative companion to the existing
agg_friedman_test (Friedman asks "any difference between treatments?";
Page asks "do they trend in a GIVEN order?"). Lepage combines the
Wilcoxon rank-sum z (location) and Ansari-Bradley z (scale) into one
chi-square-2 statistic — the standard two-sample drift detector when
either the mean or the spread may have moved. Ranks everywhere are
DOUBLED mid-ranks (2*below + equal + 1), so every rank is an exact
integer in both engines even under ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 4  # six-hour bins: ordered treatments for Page's L
_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


@query(
    "agg_page_trend",
    oracle=f"""
    WITH grid AS (
        SELECT d.day, t.bin
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d,
             UNNEST(GENERATE_SERIES(0, {_K - 1})) AS t(bin)
    ),
    cells AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(HOUR(ts) // 6 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT g.day, g.bin, COALESCE(c.c, 0) AS c
        FROM grid g LEFT JOIN cells c
          ON c.day = g.day AND c.bin = g.bin
    ),
    ranked AS (
        SELECT day, bin,
               2 * COUNT(*) OVER (
                     PARTITION BY day ORDER BY c
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 + COUNT(*) OVER (
                     PARTITION BY day ORDER BY c
                     RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
                 + 1 AS r2
        FROM dense
    ),
    colsum AS (
        SELECT bin, CAST(SUM(r2) AS BIGINT) AS r2_j FROM ranked GROUP BY bin
    ),
    agg AS (
        SELECT CAST(SUM((bin + 1) * r2_j) AS BIGINT) AS l2,
               (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) FROM dense) AS n
        FROM colsum
    )
    SELECT n AS n_blocks, {_K} AS k_treatments, l2 AS l_doubled,
           ROUND((l2 / 2.0e0 - n * {_K} * ({_K} + 1) * ({_K} + 1) / 4.0e0)
                 / SQRT(n * {_K} * {_K} * ({_K} + 1.0e0)
                        * ({_K} * {_K} - 1) / 144.0e0), 6) AS z_stat
    FROM agg
    """,
)
def agg_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for ordered alternatives: blocks = days, ordered
    treatments = the four six-hour bins of the day, metric = event count.
    Within each day the bins are mid-ranked, L = sum_j j * R_j over the
    ordered treatment index; large z means activity trends monotonically
    through the day, which Friedman alone cannot claim.

    Determinism: doubled mid-ranks (2*below + equal + 1) are exact
    integers even when two bins tie; the dense day x bin grid guarantees
    every block ranks the same k cells; L is published doubled as an
    exact BIGINT next to the one rounded z (no-tie null moments —
    identical expression both engines).

    Scale shape: the fact table collapses to <= 4 rows per day first
    (map-side partials); ranking windows partition BY DAY (4-row frames,
    never single-partition); the treatment fold is k rows."""
    events = table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.to_date("ts").alias("day"),
        (F.hour("ts") / 6).cast("long").alias("bin"),
    ).agg(F.count("*").cast("long").alias("c"))
    days = events.select(F.to_date("ts").alias("day")).distinct()
    grid = days.crossJoin(
        F.broadcast(
            spark.range(_K).select(F.col("id").cast("long").alias("bin"))
        )
    )
    dense = grid.join(cells, ["day", "bin"], "left").fillna(0, ["c"])
    byc = Window.partitionBy("day").orderBy("c")
    ranked = dense.withColumn(
        "r2",
        2 * F.count("*").over(byc.rangeBetween(Window.unboundedPreceding, -1))
        + F.count("*").over(byc.rangeBetween(0, 0))
        + 1,
    )
    colsum = ranked.groupBy("bin").agg(F.sum("r2").cast("long").alias("r2_j"))
    # n folded in as a 1-row broadcast (no build-time job); the moment
    # chain keeps the identical left-to-right op order, and F.sqrt is
    # java.lang.Math.sqrt — correctly rounded like DuckDB's SQRT (unlike
    # Column ** 0.5, which lowers to POWER)
    nf = dense.select("day").distinct().agg(
        F.count("*").cast("long").alias("n")
    )
    agg = colsum.agg(
        F.sum((F.col("bin") + 1) * F.col("r2_j")).cast("long").alias("l2")
    ).crossJoin(F.broadcast(nf))
    k = float(_K)
    mean = F.col("n") * k * (k + 1) * (k + 1) / 4.0
    sd = F.sqrt(F.col("n") * k * k * (k + 1) * (k * k - 1) / 144.0)
    return agg.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.lit(_K).cast("int").alias("k_treatments"),
        F.col("l2").alias("l_doubled"),
        F.round((F.col("l2") / 2.0 - mean) / sd, 6).alias("z_stat"),
    )


@query(
    "agg_lepage",
    oracle="""
    WITH pool AS (
        SELECT value AS v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
               END AS is_a
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    dv AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(is_a) AS BIGINT) AS cnt_a
        FROM pool GROUP BY v
    ),
    pref AS (
        SELECT v, cnt, cnt_a,
               CAST(COALESCE(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS below
        FROM dv
    ),
    tot AS (
        SELECT CAST(SUM(cnt_a) AS BIGINT) AS m,
               CAST(SUM(cnt) AS BIGINT) AS nn,
               CAST(SUM(cnt * (cnt * cnt - 1)) AS BIGINT) AS tie3
        FROM dv
    ),
    scored AS (
        SELECT cnt, cnt_a, 2 * below + cnt + 1 AS r2,
               LEAST(2 * below + cnt + 1,
                     2 * (nn + 1) - (2 * below + cnt + 1)) AS s2
        FROM pref, tot
    ),
    sums AS (
        SELECT CAST(SUM(cnt_a * r2) AS BIGINT) AS w2,
               CAST(SUM(cnt_a * s2) AS BIGINT) AS a2
        FROM scored
    ),
    mom AS (
        SELECT m, nn, w2, a2,
               CAST(nn - m AS BIGINT) AS n2,
               m * (nn + 1) / 2.0e0 AS ew,
               m * CAST(nn - m AS BIGINT) / 12.0e0
                 * ((nn + 1) - CAST(tie3 AS DOUBLE)
                               / (nn * CAST(nn - 1 AS BIGINT))) AS vw,
               CASE WHEN nn % 2 = 0 THEN m * (nn + 2) / 4.0e0
                    ELSE m * (nn + 1) * (nn + 1) / (4.0e0 * nn) END AS ea,
               CASE WHEN nn % 2 = 0 THEN
                        m * CAST(nn - m AS BIGINT) * (nn + 2)
                          * (nn - 2.0e0) / (48.0e0 * (nn - 1))
                    ELSE m * CAST(nn - m AS BIGINT) * (nn + 1)
                          * (3.0e0 + nn * CAST(nn AS BIGINT))
                          / (48.0e0 * nn * CAST(nn AS BIGINT)) END AS va
        FROM sums, tot
    )
    SELECT m AS n_a, n2 AS n_b, w2 AS w_doubled, a2 AS a_doubled,
           ROUND((w2 / 2.0e0 - ew) / SQRT(vw), 6) AS z_wilcoxon,
           ROUND((a2 / 2.0e0 - ea) / SQRT(va), 6) AS z_ansari,
           ROUND(POW((w2 / 2.0e0 - ew) / SQRT(vw), 2)
                 + POW((a2 / 2.0e0 - ea) / SQRT(va), 2), 6) AS lepage_d
    FROM mom
    """,
)
def agg_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage combined location-scale test between the purchase and click
    value samples: D = z_Wilcoxon^2 + z_AnsariBradley^2 ~ chi2(2). The
    one-number answer to "did this metric's distribution move — in mean
    OR in spread?", which neither test alone covers.

    Determinism: the pool collapses to DISTINCT values with counts, so
    doubled mid-ranks r2 = 2*below + cnt + 1 and Ansari scores
    s2 = min(r2, 2(N+1)-r2) are exact integers; W and A are published
    doubled as BIGINTs; Wilcoxon variance carries the exact-integer tie
    correction sum(t^3-t); Ansari moments use the classic no-tie
    even/odd-N forms (identical expression both engines).

    Scale shape: groupBy(value) collapses duplicates first; the rank
    prefix-sum runs over DISTINCT values — at 100 TB that ordered prefix
    uses the same two-phase sharded cumsum as sample_weighted_systematic
    (here the distinct-value frame at fixture scale is the bounded
    case; the oracle's single window is the semantic spec)."""
    events = table(spark, sf_dir, "events")
    pool = events.where(
        F.col("event_type").isin("purchase", "click")
    ).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_a"
        ),
    )
    dv = pool.groupBy("v").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("is_a").cast("long").alias("cnt_a"),
    )
    # two-phase sharded prefix sum over distinct values: shard by value
    # percentile bucket, within-shard window, tiny offsets frame
    bounds = dv.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    sharded = dv.join(F.broadcast(bounds)).withColumn(
        "bucket",
        F.least(
            F.lit(31),
            F.floor(
                (F.col("v") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 32 + F.lit(1e-12))
            ),
        ).cast("long"),
    )
    within = sharded.withColumn(
        "wbelow",
        F.coalesce(
            F.sum("cnt").over(
                Window.partitionBy("bucket")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    offsets = (
        sharded.groupBy("bucket")
        .agg(F.sum("cnt").alias("btot"))
        .withColumn(
            "boff",
            F.coalesce(
                F.sum("btot").over(
                    # bounded: <= 32 rows by construction
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "boff")
    )
    pref = within.join(F.broadcast(offsets), "bucket").withColumn(
        "below", (F.col("boff") + F.col("wbelow")).cast("long")
    )
    tot = dv.agg(
        F.sum("cnt_a").cast("long").alias("m"),
        F.sum("cnt").cast("long").alias("nn"),
        F.sum(F.col("cnt") * (F.col("cnt") * F.col("cnt") - 1))
        .cast("long")
        .alias("tie3"),
    )
    scored = pref.crossJoin(F.broadcast(tot)).select(
        "cnt",
        "cnt_a",
        "m",
        "nn",
        "tie3",
        (2 * F.col("below") + F.col("cnt") + 1).alias("r2"),
    )
    scored = scored.withColumn(
        "s2",
        F.least(F.col("r2"), 2 * (F.col("nn") + 1) - F.col("r2")),
    )
    sums = scored.groupBy("m", "nn", "tie3").agg(
        F.sum(F.col("cnt_a") * F.col("r2")).cast("long").alias("w2"),
        F.sum(F.col("cnt_a") * F.col("s2")).cast("long").alias("a2"),
    )
    m, nn = F.col("m"), F.col("nn")
    n2 = (nn - m).cast("long")
    ew = m * (nn + 1) / F.lit(2.0)
    vw = (
        m
        * n2
        / F.lit(12.0)
        * (
            (nn + 1)
            - F.col("tie3").cast("double") / (nn * (nn - 1))
        )
    )
    ea = F.when(nn % 2 == 0, m * (nn + 2) / F.lit(4.0)).otherwise(
        m * (nn + 1) * (nn + 1) / (F.lit(4.0) * nn)
    )
    va = F.when(
        nn % 2 == 0,
        m * n2 * (nn + 2) * (nn - F.lit(2.0)) / (F.lit(48.0) * (nn - 1)),
    ).otherwise(
        m
        * n2
        * (nn + 1)
        * (F.lit(3.0) + nn * nn)
        / (F.lit(48.0) * nn * nn)
    )
    zw = (F.col("w2") / 2.0 - ew) / F.sqrt(vw)
    za = (F.col("a2") / 2.0 - ea) / F.sqrt(va)
    return sums.select(
        m.alias("n_a"),
        n2.alias("n_b"),
        F.col("w2").alias("w_doubled"),
        F.col("a2").alias("a_doubled"),
        F.round(zw, 6).alias("z_wilcoxon"),
        F.round(za, 6).alias("z_ansari"),
        F.round(zw**2 + za**2, 6).alias("lepage_d"),
    )


@query(
    "fn_base58",
    oracle=f"""
    WITH h AS (
        SELECT event_id, SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 7)
                   AS hex7
        FROM events
    ),
    v AS (
        SELECT event_id, hex7,
               CAST((STRPOS('0123456789abcdef', SUBSTR(hex7,1,1))-1)
                    * 16777216
                  + (STRPOS('0123456789abcdef', SUBSTR(hex7,2,1))-1)
                    * 1048576
                  + (STRPOS('0123456789abcdef', SUBSTR(hex7,3,1))-1)
                    * 65536
                  + (STRPOS('0123456789abcdef', SUBSTR(hex7,4,1))-1)
                    * 4096
                  + (STRPOS('0123456789abcdef', SUBSTR(hex7,5,1))-1)
                    * 256
                  + (STRPOS('0123456789abcdef', SUBSTR(hex7,6,1))-1)
                    * 16
                  + (STRPOS('0123456789abcdef', SUBSTR(hex7,7,1))-1)
                    AS BIGINT) AS v
        FROM h
    )
    SELECT event_id, hex7, v AS key28,
           SUBSTR('{_B58}', CAST(v // 11316496 % 58 AS INTEGER) + 1, 1) ||
           SUBSTR('{_B58}', CAST(v // 195112 % 58 AS INTEGER) + 1, 1) ||
           SUBSTR('{_B58}', CAST(v // 3364 % 58 AS INTEGER) + 1, 1) ||
           SUBSTR('{_B58}', CAST(v // 58 % 58 AS INTEGER) + 1, 1) ||
           SUBSTR('{_B58}', CAST(v % 58 AS INTEGER) + 1, 1) AS b58
    FROM v
    """,
)
def fn_base58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width Base58 short keys (Bitcoin alphabet — no 0/O/I/l) for
    event ids: a 28-bit md5 prefix rendered as exactly five Base58
    digits, the classic human-safe shard/url key. 58^5 > 2^28, so the
    width never overflows and leading zeros pad with '1' (digit 0).

    Determinism: md5 is bit-identical in both engines; the hex fold and
    the five div/mod digit extractions are pure BIGINT arithmetic; the
    alphabet lookup is 1-based SUBSTR in both.

    Scale shape: embarrassingly parallel row-local expression — no
    shuffle, whole-stage codegen end to end."""
    events = table(spark, sf_dir, "events")
    h = events.select(
        "event_id",
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 7).alias(
            "hex7"
        ),
    )
    v = h.withColumn("v", F.conv("hex7", 16, 10).cast("long"))
    digit = lambda div: F.substring(  # noqa: E731
        F.lit(_B58), ((F.col("v") / div).cast("long") % 58).cast("int") + 1, 1
    )
    return v.select(
        "event_id",
        "hex7",
        F.col("v").alias("key28"),
        F.concat(
            digit(58**4), digit(58**3), digit(58**2), digit(58), digit(1)
        ).alias("b58"),
    )
