"""Wave-125: Apriori frequent itemsets over order baskets, IANA timezone /
ISO-calendar function parity, and an inverted-index build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_MIN_SUP = 2  # absolute support threshold


@query(
    "basket_apriori_itemsets",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
    ),
    l2 AS (
        SELECT a.item AS item1, c.item AS item2,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM b a JOIN b c ON a.oid = c.oid AND a.item < c.item
        GROUP BY a.item, c.item HAVING COUNT(*) >= {_MIN_SUP}
    ),
    cand3 AS (
        SELECT p.item1, p.item2, q.item2 AS item3
        FROM l2 p
        JOIN l2 q ON q.item1 = p.item1 AND q.item2 > p.item2
        JOIN l2 r ON r.item1 = p.item2 AND r.item2 = q.item2
    ),
    l3 AS (
        SELECT c.item1, c.item2, c.item3,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM cand3 c
        JOIN b x ON x.item = c.item1
        JOIN b y ON y.oid = x.oid AND y.item = c.item2
        JOIN b z ON z.oid = x.oid AND z.item = c.item3
        GROUP BY c.item1, c.item2, c.item3 HAVING COUNT(*) >= {_MIN_SUP}
    )
    SELECT item1, item2, CAST(NULL AS BIGINT) AS item3, support,
           2 AS set_size
    FROM l2
    UNION ALL
    SELECT item1, item2, item3, support, 3 AS set_size FROM l3
    """,
)
def basket_apriori_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-wise frequent-itemset mining (Agrawal & Srikant, VLDB
    1994, public) over order baskets (distinct parts per order): L2 =
    frequent pairs by per-order self-join; C3 candidates by the classic
    prefix join of L2 with itself PLUS the downward-closure prune (every
    2-subset must be frequent — the r-join); L3 = candidates whose
    triple support clears the threshold. Output: frequent 2- and
    3-itemsets with exact support counts.

    Scale shape: the per-order pair join fans out only within a basket
    (bounded lines-per-order ⇒ linear in lineitem); candidate
    generation joins the SMALL L2 set with itself, never the baskets;
    triple counting joins candidates back to baskets on item keys. This
    is the join-pruned shape that makes Apriori feasible at 100 TB —
    the basket table is never self-joined three ways unpruned.

    Determinism: supports are exact integer counts; itemsets are ordered
    item1 < item2 < item3 so each set appears exactly once."""
    b = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    a, c = b.alias("a"), b.alias("c")
    l2 = (
        a.join(
            c,
            (F.col("a.oid") == F.col("c.oid")) & (F.col("a.item") < F.col("c.item")),
        )
        .groupBy(F.col("a.item").alias("item1"), F.col("c.item").alias("item2"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= _MIN_SUP)
    )
    p = l2.select(F.col("item1"), F.col("item2"))
    q = l2.select(F.col("item1"), F.col("item2").alias("item3"))
    r = l2.select(
        F.col("item1").alias("r1"), F.col("item2").alias("r2")
    )
    cand3 = (
        p.join(q, "item1")
        .where(F.col("item3") > F.col("item2"))
        .join(
            r,
            (F.col("r1") == F.col("item2")) & (F.col("r2") == F.col("item3")),
        )
        .select("item1", "item2", "item3")
    )
    x = b.select("oid", F.col("item").alias("item1"))
    y = b.select(F.col("oid").alias("oid_y"), F.col("item").alias("item2_y"))
    z = b.select(F.col("oid").alias("oid_z"), F.col("item").alias("item3_z"))
    l3 = (
        cand3.join(x, "item1")
        .join(
            y,
            (F.col("oid_y") == F.col("oid"))
            & (F.col("item2_y") == F.col("item2")),
        )
        .join(
            z,
            (F.col("oid_z") == F.col("oid"))
            & (F.col("item3_z") == F.col("item3")),
        )
        .groupBy("item1", "item2", "item3")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= _MIN_SUP)
    )
    out2 = l2.select(
        "item1",
        "item2",
        F.lit(None).cast("long").alias("item3"),
        F.col("support").cast("long").alias("support"),
        F.lit(2).alias("set_size"),
    )
    out3 = l3.select(
        "item1",
        "item2",
        "item3",
        F.col("support").cast("long").alias("support"),
        F.lit(3).alias("set_size"),
    )
    return out2.unionAll(out3)


@query(
    "fn_timezone_convert",
    oracle="""
    WITH src AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS TIMESTAMP)
               + (o_orderkey % 86400) * INTERVAL 1 SECOND AS utc_ts
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    conv AS (
        SELECT o_orderkey, utc_ts,
               (utc_ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'
                   AS ny_local,
               (utc_ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tokyo'
                   AS tokyo_local
        FROM src
    )
    SELECT o_orderkey,
           STRFTIME(utc_ts, '%Y-%m-%d %H:%M:%S') AS utc_str,
           STRFTIME(ny_local, '%Y-%m-%d %H:%M:%S') AS ny_str,
           STRFTIME(tokyo_local, '%Y-%m-%d %H:%M:%S') AS tokyo_str,
           CAST((EPOCH(ny_local) - EPOCH(utc_ts)) // 3600 AS BIGINT)
               AS ny_offset_hours,
           CASE WHEN (EPOCH(ny_local) - EPOCH(utc_ts)) // 3600 = -4
                THEN TRUE ELSE FALSE END AS ny_is_dst,
           CAST(ISOYEAR(utc_ts) AS BIGINT) AS iso_year,
           CAST(WEEK(utc_ts) AS BIGINT) AS iso_week
    FROM conv
    """,
)
def fn_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IANA timezone conversion + ISO-8601 calendar parity: UTC order
    timestamps (spread across the clock by key) converted to
    America/New_York (DST-observing, offset flips -5/-4 across the
    1992-1998 date range) and Asia/Tokyo (fixed +9), with the realized
    UTC offset, a DST flag derived from it, and ISO year/week — the
    calendar edge where early-January days belong to the previous ISO
    year. Both engines resolve zones from the same IANA tzdata, so
    conversions (including the DST transition days the fixture's 7-year
    span contains) match exactly; timestamps are emitted as strings per
    the date-as-string parity rule.

    Scale shape: pure per-row projection, no shuffle, codegen'd
    timestamp arithmetic."""
    src = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            (
                F.col("o_orderdate").cast("timestamp")
                + F.make_interval(secs=(F.col("o_orderkey") % 86400))
            ).alias("utc_ts"),
        )
    )
    ny = F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), "utc_ts")
    tokyo = F.convert_timezone(F.lit("UTC"), F.lit("Asia/Tokyo"), "utc_ts")
    conv = src.select(
        "o_orderkey", "utc_ts", ny.alias("ny_local"), tokyo.alias("tokyo_local")
    )
    off = F.floor(
        (F.unix_timestamp("ny_local") - F.unix_timestamp("utc_ts")) / 3600
    ).cast("long")
    return conv.select(
        "o_orderkey",
        F.date_format("utc_ts", "yyyy-MM-dd HH:mm:ss").alias("utc_str"),
        F.date_format("ny_local", "yyyy-MM-dd HH:mm:ss").alias("ny_str"),
        F.date_format("tokyo_local", "yyyy-MM-dd HH:mm:ss").alias("tokyo_str"),
        off.alias("ny_offset_hours"),
        (off == -4).alias("ny_is_dst"),
        F.expr("extract(yearofweek from utc_ts)").cast("long").alias("iso_year"),
        F.weekofyear("utc_ts").cast("long").alias("iso_week"),
    )


@query(
    "text_inverted_index",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    post AS (
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               ARRAY_TO_STRING((LIST(doc_id ORDER BY doc_id))[1:5], ',')
                   AS postings_head
        FROM tf GROUP BY tok
        HAVING COUNT(*) BETWEEN 2 AND 400
    )
    SELECT tok, df, total_tf, postings_head,
           CAST(ROUND(1000000 * LN(CAST(n_docs AS DOUBLE) / df)) AS BIGINT)
               AS idf_micro
    FROM post CROSS JOIN n
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the retrieval foundation (Zobel & Moffat,
    ACM Computing Surveys 2006, public): token → document frequency,
    collection term frequency, the head of the doc-id-sorted posting
    list, and integer micro-nat IDF. Tokens with df in [2, 400] are the
    useful middle band (hapaxes index nothing; near-stopwords get
    special-cased in real engines; the fixture's synthetic vocabulary is
    ~30 tokens, so the band is tuned to keep the index non-degenerate).

    Scale shape: one explode + two map-side-combined groupBys, both
    keyed by token (uniform after the df band filter); posting lists
    aggregate as sorted arrays bounded to the head slice, so no
    unbounded row blowup. The N-docs scalar broadcasts.

    Determinism: counts exact; posting heads sorted; IDF collapses to
    one rounded double chain."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    n = d.agg(F.count("*").cast("long").alias("n_docs"))
    post = (
        tf.groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head"),
        )
        .where(F.col("df").between(2, 400))
    )
    return post.crossJoin(F.broadcast(n)).select(
        "tok",
        "df",
        "total_tf",
        "postings_head",
        F.round(1000000 * F.log(F.col("n_docs").cast("double") / F.col("df")))
        .cast("long")
        .alias("idf_micro"),
    )
