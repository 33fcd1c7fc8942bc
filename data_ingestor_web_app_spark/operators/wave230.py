"""Wave-230: connected components (generic distributed label propagation
with pointer jumping, checked against an analytic gaps-and-islands
oracle), dedup survivorship (canonical-record pick per duplicate
cluster), and Expected Reciprocal Rank over graded retrieval — computed
in exact dyadic arithmetic so the cascade product is bit-identical in
any IEEE engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# deterministic cross-engine edge gate: md5-derived u32 of the node id
# (the scan_sample_hash device) — link node k to k+1 iff hash(k) % 10 < 7
_LINK_SQL_DUCK = (
    "CAST(CONCAT('0x', SUBSTR(MD5(CAST({k} AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 7"
)
_CC_ITERS = 8  # pointer jumping doubles reach per round: 2^8 = 256 >> max run


@query(
    "graph_connected_components",
    oracle=f"""
    WITH nodes AS (SELECT c_custkey AS node FROM customer),
    flagged AS (
        SELECT node,
               CASE WHEN {_LINK_SQL_DUCK.format(k='node - 1')}
                         AND EXISTS (SELECT 1 FROM nodes p
                                     WHERE p.node = nodes.node - 1)
                    THEN 0 ELSE 1 END AS is_start
        FROM nodes
    ),
    comp AS (
        SELECT node,
               SUM(is_start) OVER (ORDER BY node
                                   ROWS UNBOUNDED PRECEDING) AS cid
        FROM flagged
    ),
    sizes AS (SELECT cid, COUNT(*) AS sz FROM comp GROUP BY cid)
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components
    FROM sizes GROUP BY sz
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by hash-to-min label propagation WITH pointer
    jumping — the generic distributed CC algorithm (each round: every node
    takes the min label in its closed neighborhood, then follows its label
    one hop, so reachable-label distance DOUBLES per round; 8 rounds cover
    diameter 256). The graph is a hash-gated chain over customer keys
    (edge k—k+1 iff md5(k) % 10 < 7), whose TRUE components are maximal
    runs — analytically expressible as gaps-and-islands SQL. The oracle
    exploits the chain structure; the Spark side deliberately does NOT —
    it runs the general algorithm any edge set would get, and must land on
    the identical component-size histogram.

    Scale shape: per round, one edges⋈labels shuffle + one labels⋈labels
    pointer-jump shuffle, both keyed joins (never all-pairs); labels are
    localCheckpoint'd per round (iterative-lineage hygiene, the
    sim_pq_adc/_pq_codebook pattern). O(log diameter) rounds is the
    textbook bound a 100 TB graph job budgets for."""
    nodes = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    u32 = F.conv(F.substring(F.md5(F.col("node").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    gated = nodes.select("node", (u32 % 10 < 7).alias("links_next"))
    fwd = (
        gated.where("links_next")
        .select(F.col("node").alias("src"), (F.col("node") + 1).alias("dst"))
        .join(nodes.select(F.col("node").alias("dst")), "dst")
    )
    edges = fwd.select("src", "dst").unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(_CC_ITERS):
        # r11: the fence sits on neigh, not on the jump output — the
        # pointer-jump self-join references neigh TWICE, so an un-fenced
        # neigh executed its edges-join + min-aggregate twice per round.
        # The jump over the checkpointed leaf is left lazy (two references
        # to a local scan), so the job count per round is unchanged.
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .select("src", "label")
            .unionByName(labels.select(F.col("node").alias("src"), "label"))
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
        jump = neigh.alias("a").join(
            neigh.select(
                F.col("node").alias("label"), F.col("label").alias("label2")
            ).alias("b"),
            "label",
        )
        labels = jump.select("node", F.col("label2").alias("label"))
    sizes = labels.groupBy("label").agg(F.count("*").alias("component_size"))
    return sizes.groupBy("component_size").agg(
        F.count("*").cast("long").alias("n_components")
    ).select(F.col("component_size").cast("long"), "n_components")


@query(
    "pipeline_dedup_survivorship",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source, n_chars, MD5(text) AS ckey FROM documents
    ),
    clusters AS (
        SELECT ckey,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
               CAST(ARG_MIN(doc_id, CONCAT(LPAD(CAST(100000000 - n_chars AS VARCHAR), 9, '0'),
                                           LPAD(CAST(doc_id AS VARCHAR), 12, '0')))
                    AS BIGINT) AS survivor_doc_id,
               ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT source)), ',') AS sources
        FROM keyed GROUP BY ckey
        HAVING COUNT(*) > 1
    )
    SELECT ckey, n_members, first_doc_id, survivor_doc_id, sources
    FROM clusters
    """,
)
def pipeline_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship after exact dedup — the policy step every training-data
    pipeline runs between "find duplicates" and "write the corpus": for
    each duplicate cluster (same text bytes, md5 key), pick ONE canonical
    record by an explicit rule — longest n_chars wins, ties broken by
    lowest doc_id (first-seen) — and carry merged lineage (first id seen,
    the sorted distinct source systems). Encoded as a single max_by over a
    composite sort key so the rule is one deterministic expression, not a
    join cascade.

    Scale shape: one groupBy on the content hash (the dedup_exact shuffle,
    reused); survivors and lineage are per-cluster aggregates with
    map-side partials. The serialized sources string follows the
    no-complex-output-types rule (round-7 item 1)."""
    d = table(spark, sf_dir, "documents")
    # composite orderable key: primarily MORE chars, then LOWER doc_id —
    # string-encoded with fixed-width zero-padding so min_by picks the
    # survivor in one pass (identical encoding in the oracle)
    rank_key = F.concat(
        F.lpad((100000000 - F.col("n_chars")).cast("string"), 9, "0"),
        F.lpad(F.col("doc_id").cast("string"), 12, "0"),
    )
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.md5("text").alias("ckey"),
            rank_key.alias("rk"),
        )
        .groupBy("ckey")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.min_by("doc_id", "rk").cast("long").alias("survivor_doc_id"),
            F.array_join(
                F.sort_array(F.collect_set("source")), ","
            ).alias("sources"),
        )
        .where(F.col("n_members") > 1)
        .select("ckey", "n_members", "first_doc_id", "survivor_doc_id", "sources")
    )


# ERR grade -> stop probability R = (2^g - 1) / 8 for g in 0..3; the
# cascade product multiplies factors 8*(1-R) in {8,7,5,1}, so the prefix
# product is 8^a * 7^b * 5^c — read from literal integer power tables
# (POW() is not ulp-identical across engines; array literals are).
_POW8 = [8**k for k in range(11)]
_POW7 = [7**k for k in range(11)]
_POW5 = [5**k for k in range(11)]
_LCM10 = 2520  # lcm(1..10): 2520/r is an integer for every rank r <= 10


@query(
    "model_err_retrieval",
    oracle=f"""
    WITH ranked AS (
        SELECT e.user_id AS qid,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                                  ORDER BY COUNT(*) DESC, e.event_type) AS rk,
               CASE WHEN COUNT(*) % 4 = 0 THEN 0 ELSE COUNT(*) % 4 END AS g
        FROM events e
        WHERE e.user_id IS NOT NULL AND e.user_id < 20
        GROUP BY e.user_id, e.event_type
    ),
    top AS (SELECT * FROM ranked WHERE rk <= 10),
    factored AS (
        SELECT qid, rk, g,
               SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) OVER w AS a,
               SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) OVER w AS b,
               SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) OVER w AS c
        FROM top
        WINDOW w AS (PARTITION BY qid ORDER BY rk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    terms AS (
        SELECT qid,
               ({_LCM10} // rk)
               * ((CAST(([{",".join('1,2,4,8'.split(','))}])[g + 1] AS DOUBLE) - 1) / 8)
               * ([{",".join(str(v) for v in _POW8)}])[CAST(COALESCE(a, 0) + 1 AS BIGINT)]
               * ([{",".join(str(v) for v in _POW7)}])[CAST(COALESCE(b, 0) + 1 AS BIGINT)]
               * ([{",".join(str(v) for v in _POW5)}])[CAST(COALESCE(c, 0) + 1 AS BIGINT)]
               / ([{",".join(str(v) for v in _POW8)}])[rk] AS term
        FROM factored
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           ROUND(SUM(term) / {_LCM10}, 6) AS err_10
    FROM terms GROUP BY qid
    """,
)
def model_err_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank at 10 (Chapelle et al., CIKM 2009, public)
    over a deterministic graded retrieval: per user-query, event types
    ranked by frequency are the "documents", grade g = count % 4 in 0..3,
    stop probability R = (2^g - 1)/8, ERR = Σ_r (1/r)·R_r·Π_{i<r}(1-R_i).

    Exactness device: every (1-R) is a dyadic rational {1, 7/8, 5/8, 1/8},
    so the cascade prefix product is (8^a·7^b·5^c)/8^(r-1) with a,b,c plain
    cumulative COUNTS — three window sums and three literal power-table
    lookups, no POW() and no EXP(SUM(LN)) (neither is ulp-portable). Terms
    are scaled by lcm(1..10)=2520 so (2520/r) is an integer; every term and
    every partial sum is then an exact multiple of 2^-30 far below the
    double mantissa, making the sum order-independent and bit-identical in
    any IEEE-754 engine — the same reasoning as sim_mmd_poly's integer
    moment trick, applied to a cascade metric.

    Scale shape: one groupBy(query, doc) count, one per-query top-10
    window, map-side-combinable final sum — the standard eval-harness
    shape over billions of judged pairs."""
    e = table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & (F.col("user_id") < 20)
    )
    counted = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), "event_type"
    )
    top = (
        counted.select(
            F.col("user_id").alias("qid"),
            F.row_number().over(w_rank).alias("rk"),
            (F.col("n") % 4).alias("g"),
        )
        .where(F.col("rk") <= 10)
    )
    w_cum = (
        Window.partitionBy("qid")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    factored = top.select(
        "qid",
        "rk",
        "g",
        F.coalesce(F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).over(w_cum), F.lit(0)).alias("a"),
        F.coalesce(F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).over(w_cum), F.lit(0)).alias("b"),
        F.coalesce(F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).over(w_cum), F.lit(0)).alias("c"),
    )
    pow8 = F.array(*[F.lit(v) for v in _POW8])
    pow7 = F.array(*[F.lit(v) for v in _POW7])
    pow5 = F.array(*[F.lit(v) for v in _POW5])
    two_g = F.array(*[F.lit(v) for v in (1, 2, 4, 8)])
    term = (
        (F.lit(_LCM10) / F.col("rk")).cast("long")
        * ((F.element_at(two_g, (F.col("g") + 1).cast("int")).cast("double") - 1) / 8)
        * F.element_at(pow8, (F.col("a") + 1).cast("int"))
        * F.element_at(pow7, (F.col("b") + 1).cast("int"))
        * F.element_at(pow5, (F.col("c") + 1).cast("int"))
        / F.element_at(pow8, F.col("rk").cast("int"))
    )
    return (
        factored.select("qid", term.alias("term"))
        .groupBy("qid")
        .agg(F.round(F.sum("term") / _LCM10, 6).alias("err_10"))
        .select(F.col("qid").cast("long"), "err_10")
    )
