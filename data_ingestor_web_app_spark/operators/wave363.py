"""Wave-363: exact Kemeny-Young consensus ranking by exhaustive
permutation scoring (Kemeny 1959; Young & Levenglick 1978) and the
Törnqvist / Walsh / Marshall-Edgeworth superlative price indices
(Diewert 1976, ILO CPI manual).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_kemeny_ranking",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    names AS (
        SELECT LIST(DISTINCT event_type ORDER BY event_type) AS nm
        FROM events
    ),
    idx AS (
        SELECT day, event_type, cnt,
               CAST(list_position((SELECT nm FROM names), event_type) - 1
                    AS BIGINT) AS ci
        FROM daily
    ),
    prefs AS (
        SELECT a.ci AS a, b.ci AS b,
               CAST(SUM(CASE WHEN a.cnt > b.cnt THEN 1 ELSE 0 END)
                    AS BIGINT) AS w
        FROM idx a JOIN idx b ON a.day = b.day AND a.ci <> b.ci
        GROUP BY a.ci, b.ci
    ),
    perms AS (
        SELECT CAST(range AS BIGINT) AS pid,
               CAST(range // 24 AS BIGINT) AS i1,
               CAST((range % 24) // 6 AS BIGINT) AS i2,
               CAST((range % 6) // 2 AS BIGINT) AS i3,
               CAST(range % 2 AS BIGINT) AS i4
        FROM range(120)
    ),
    dec1 AS (
        SELECT pid, i2, i3, i4,
               [0, 1, 2, 3, 4][CAST(i1 + 1 AS INT)] AS p1,
               list_filter([0, 1, 2, 3, 4],
                           x -> x != [0, 1, 2, 3, 4][CAST(i1 + 1 AS INT)])
                   AS r1
        FROM perms
    ),
    dec2 AS (
        SELECT pid, i3, i4, p1,
               r1[CAST(i2 + 1 AS INT)] AS p2,
               list_filter(r1, x -> x != r1[CAST(i2 + 1 AS INT)]) AS r2
        FROM dec1
    ),
    dec3 AS (
        SELECT pid, i4, p1, p2,
               r2[CAST(i3 + 1 AS INT)] AS p3,
               list_filter(r2, x -> x != r2[CAST(i3 + 1 AS INT)]) AS r3
        FROM dec2
    ),
    dec4 AS (
        SELECT pid, p1, p2, p3,
               r3[CAST(i4 + 1 AS INT)] AS p4,
               list_filter(r3, x -> x != r3[CAST(i4 + 1 AS INT)])[1] AS p5
        FROM dec3
    ),
    full_perm AS (
        SELECT pid, [p1, p2, p3, p4, p5] AS perm FROM dec4
    ),
    scored AS (
        SELECT fp.pid, fp.perm,
               SUM(CASE WHEN list_position(fp.perm, CAST(pr.b AS INT))
                             < list_position(fp.perm, CAST(pr.a AS INT))
                        THEN pr.w ELSE 0 END) AS score
        FROM full_perm fp CROSS JOIN prefs pr
        GROUP BY fp.pid, fp.perm
    ),
    best AS (
        SELECT pid, perm, score,
               ROW_NUMBER() OVER (ORDER BY score, pid) AS rk
        FROM scored
    )
    SELECT CAST(b.pid AS BIGINT) AS perm_id,
           CAST(b.score AS BIGINT) AS kemeny_score,
           array_to_string(list_transform(b.perm,
                           i -> n.nm[CAST(i + 1 AS INT)]),
                           '>') AS consensus_order
    FROM best b CROSS JOIN names n WHERE b.rk = 1
    """,
)
def model_kemeny_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kemeny-Young consensus ranking (Kemeny 1959; the unique
    rule that is neutral, consistent and Condorcet — Young & Levenglick
    1978) of the 5 event types, with each calendar day voting by its
    activity counts (a day prefers a over b iff it logged strictly more
    a-events). Kemeny is NP-hard in the number of items; for the fixed
    m = 5 catalog the 5! = 120 permutations are ENUMERATED IN-PLAN
    (factorial-base decode of spark.range(120) — no driver loop, no
    collect) and each is scored against the pairwise-preference matrix;
    the consensus is the disagreement-minimizing order.

    Determinism: preference weights are exact day counts; permutation
    decode is integer arithmetic over one literal [0..4] list; argmin
    tie-breaks by permutation id.

    Scale shape: the corpus collapses to a (day × type) aggregate, then
    to the 20-cell preference matrix; the 120 × 20 scoring grid is
    constant-size regardless of data — the classic bounded-exhaustive
    pattern (cf. the 2^11 policy and 2^12 Viterbi proofs)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    names = e.agg(
        F.sort_array(F.collect_set("event_type")).alias("nm")
    )
    idx = daily.crossJoin(F.broadcast(names)).select(
        "day",
        "cnt",
        (F.array_position(F.col("nm"), F.col("event_type")) - 1)
        .cast("long")
        .alias("ci"),
    )
    a = idx.select(
        F.col("day").alias("da"), F.col("ci").alias("a"), F.col("cnt").alias("ca")
    )
    b = idx.select(
        F.col("day").alias("db"), F.col("ci").alias("b"), F.col("cnt").alias("cb")
    )
    prefs = (
        a.join(b, (F.col("da") == F.col("db")) & (F.col("a") != F.col("b")))
        .groupBy("a", "b")
        .agg(
            F.sum(F.when(F.col("ca") > F.col("cb"), 1).otherwise(0))
            .cast("long")
            .alias("w")
        )
    )
    base = F.expr("array(0, 1, 2, 3, 4)")
    perms = spark.range(120).select(
        F.col("id").alias("pid"),
        (F.col("id") / 24).cast("long").alias("i1"),
        ((F.col("id") % 24) / 6).cast("long").alias("i2"),
        ((F.col("id") % 6) / 2).cast("long").alias("i3"),
        (F.col("id") % 2).cast("long").alias("i4"),
    )
    dec = (
        perms.withColumn("p1", F.element_at(base, (F.col("i1") + 1).cast("int")))
        .withColumn("r1", F.expr("filter(array(0,1,2,3,4), x -> x != p1)"))
        .withColumn("p2", F.expr("r1[CAST(i2 AS INT)]"))
        .withColumn("r2", F.expr("filter(r1, x -> x != p2)"))
        .withColumn("p3", F.expr("r2[CAST(i3 AS INT)]"))
        .withColumn("r3", F.expr("filter(r2, x -> x != p3)"))
        .withColumn("p4", F.expr("r3[CAST(i4 AS INT)]"))
        .withColumn("p5", F.expr("filter(r3, x -> x != p4)[0]"))
        .select("pid", F.expr("array(p1, p2, p3, p4, p5)").alias("perm"))
    )
    scored = (
        dec.crossJoin(F.broadcast(prefs))
        .groupBy("pid", "perm")
        .agg(
            F.sum(
                F.when(
                    F.array_position(F.col("perm"), F.col("b").cast("int"))
                    < F.array_position(F.col("perm"), F.col("a").cast("int")),
                    F.col("w"),
                ).otherwise(0)
            ).alias("score")
        )
    )
    best = scored.orderBy("score", "pid").limit(1)
    return best.crossJoin(F.broadcast(names)).select(
        F.col("pid").cast("long").alias("perm_id"),
        F.col("score").cast("long").alias("kemeny_score"),
        F.array_join(
            F.expr("transform(perm, i -> element_at(nm, CAST(i + 1 AS INT)))"),
            ">",
        ).alias("consensus_order"),
    )


@query(
    "agg_price_index_tornqvist",
    oracle="""
    WITH li AS (
        SELECT l.l_partkey AS pk,
               CASE WHEN o.o_orderdate < DATE '1995-06-17' THEN 0 ELSE 1
                   END AS period,
               l.l_extendedprice / l.l_quantity AS price,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    pq AS (
        SELECT pk, period,
               SUM(price * qty) / SUM(qty) AS p,
               CAST(SUM(qty) AS BIGINT) AS q
        FROM li GROUP BY pk, period
    ),
    wide AS (
        SELECT pk,
               MAX(CASE WHEN period = 0 THEN p END) AS p0,
               MAX(CASE WHEN period = 1 THEN p END) AS p1,
               MAX(CASE WHEN period = 0 THEN q END) AS q0,
               MAX(CASE WHEN period = 1 THEN q END) AS q1
        FROM pq GROUP BY pk
        HAVING COUNT(DISTINCT period) = 2
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
               SUM(p0 * q0) AS v0, SUM(p1 * q1) AS v1,
               SUM(p1 * SQRT(CAST(q0 AS DOUBLE) * q1)) AS wn,
               SUM(p0 * SQRT(CAST(q0 AS DOUBLE) * q1)) AS wd,
               SUM(p1 * (q0 + q1)) AS men,
               SUM(p0 * (q0 + q1)) AS med
        FROM wide
    ),
    tq AS (
        SELECT SUM((0.5 * (w.p0 * w.q0 / s.v0)
                    + 0.5 * (w.p1 * w.q1 / s.v1)) * LN(w.p1 / w.p0))
                   AS ln_t
        FROM wide w CROSS JOIN sums s
    )
    SELECT s.n_parts,
           ROUND(EXP(t.ln_t), 6) AS tornqvist,
           ROUND(s.wn / s.wd, 6) AS walsh,
           ROUND(s.men / s.med, 6) AS marshall_edgeworth
    FROM sums s CROSS JOIN tq t
    """,
)
def agg_price_index_tornqvist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Törnqvist superlative price index (Törnqvist 1936; exact for
    a translog cost function — Diewert 1976) plus the Walsh and
    Marshall-Edgeworth indices, completing the CPI-manual shelf next to
    agg_price_index_fisher (wave268): share-weighted log price relatives
    across the two order-date halves of the lineitem book, over parts
    traded in BOTH periods.

    Determinism: unit prices and quantities collapse per (part, period)
    first; the three index folds are sum-aggregates of fixed double
    chains; ROUND 6.

    Scale shape: one (part, period) groupBy with map-side partials, a
    part-keyed pivot, then 1-row aggregates — the revenue-share
    denominators fold in as broadcast scalars, never a second scan."""
    li = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("l_partkey").alias("pk"),
            F.when(
                F.col("o_orderdate") < F.lit("1995-06-17").cast("date"), 0
            )
            .otherwise(1)
            .alias("period"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("price"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    pq = li.groupBy("pk", "period").agg(
        (F.sum(F.col("price") * F.col("qty")) / F.sum("qty")).alias("p"),
        F.sum("qty").cast("long").alias("q"),
    )
    wide = (
        pq.groupBy("pk")
        .agg(
            F.max(F.when(F.col("period") == 0, F.col("p"))).alias("p0"),
            F.max(F.when(F.col("period") == 1, F.col("p"))).alias("p1"),
            F.max(F.when(F.col("period") == 0, F.col("q"))).alias("q0"),
            F.max(F.when(F.col("period") == 1, F.col("q"))).alias("q1"),
            F.countDistinct("period").alias("np"),
        )
        .where(F.col("np") == 2)
    )
    sums = wide.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.col("p0") * F.col("q0")).alias("v0"),
        F.sum(F.col("p1") * F.col("q1")).alias("v1"),
        F.sum(
            F.col("p1") * F.sqrt(F.col("q0").cast("double") * F.col("q1"))
        ).alias("wn"),
        F.sum(
            F.col("p0") * F.sqrt(F.col("q0").cast("double") * F.col("q1"))
        ).alias("wd"),
        F.sum(F.col("p1") * (F.col("q0") + F.col("q1"))).alias("men"),
        F.sum(F.col("p0") * (F.col("q0") + F.col("q1"))).alias("med"),
    )
    tq = wide.crossJoin(F.broadcast(sums)).agg(
        F.sum(
            (
                0.5 * (F.col("p0") * F.col("q0") / F.col("v0"))
                + 0.5 * (F.col("p1") * F.col("q1") / F.col("v1"))
            )
            * F.log(F.col("p1") / F.col("p0"))
        ).alias("ln_t")
    )
    return sums.crossJoin(F.broadcast(tq)).select(
        "n_parts",
        F.round(F.exp("ln_t"), 6).alias("tornqvist"),
        F.round(F.col("wn") / F.col("wd"), 6).alias("walsh"),
        F.round(F.col("men") / F.col("med"), 6).alias("marshall_edgeworth"),
    )
