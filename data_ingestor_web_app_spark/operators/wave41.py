"""Wave-41: position-based attribution, quality-filter ensemble, link
prediction, string scalar family.

pipeline_quality_ensemble wires three of the engine's own quality
signals (Gopher rules, langid confidence, bigram-LM NLL) into one keep
vote — the ensemble gate real curation stacks ship.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_attribution_position",
    oracle="""
    WITH touches AS (
        SELECT user_id, event_id, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events WHERE event_type IN ('view', 'click')
    ),
    weighted AS (
        SELECT user_id, event_id,
               CASE WHEN n = 1 THEN 1.0
                    WHEN n = 2 THEN 0.5
                    WHEN pos = 1 THEN 0.4
                    WHEN pos = n THEN 0.4
                    ELSE 0.2 / (n - 2) END AS credit
        FROM touches
    )
    SELECT user_id,
           COUNT(*) AS n_touches,
           ROUND(SUM(credit), 6) AS total_credit,
           ROUND(MAX(credit), 6) AS max_credit
    FROM weighted GROUP BY user_id
    """,
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) attribution: first and last touch get
    40% credit each, the middle splits the remaining 20% evenly —
    completing the attribution family next to last-touch
    (events_attribution_last_touch). Per-user credit must sum to exactly
    1.0 (pinned in pytest); the oracle verifies every touch's weight.

    Scale shape: one shuffle on user_id; position/count come from the
    same per-user sort; credit is a projection; the rollup is map-side
    combined."""
    e = table(spark, sf_dir, "events").where(F.col("event_type").isin("view", "click"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    touches = e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(wn).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when(F.col("pos") == 1, 0.4)
        .when(F.col("pos") == F.col("n"), 0.4)
        .otherwise(0.2 / (F.col("n") - 2))
    )
    return (
        touches.select("user_id", credit.alias("credit"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum("credit"), 6).alias("total_credit"),
            F.round(F.max("credit"), 6).alias("max_credit"),
        )
    )


@query(
    "pipeline_quality_ensemble",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, text, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    gopher AS (
        SELECT doc_id,
               CAST(LEN(t) BETWEEN 50 AND 100000
                    AND (CAST(LEN(REPLACE(text, ' ', '')) AS DOUBLE) / LEN(t))
                        BETWEEN 3 AND 10
                    AND LEN(LIST_FILTER(t,
                        w -> w IN ('the', 'be', 'to', 'of', 'and'))) >= 2
                    AS BOOLEAN) AS pass_gopher
        FROM toks
    ),
    langconf AS (
        SELECT doc_id,
               CAST(CAST(LEN(LIST_FILTER(t,
                    w -> w IN ('the', 'a', 'of', 'fast', 'slow'))) AS DOUBLE)
                    / LEN(t) >= 0.05 AS BOOLEAN) AS pass_lang
        FROM toks
    ),
    flat AS (
        SELECT doc_id, UNNEST(t) AS tok, GENERATE_SUBSCRIPTS(t, 1) AS i FROM toks
    ),
    bi AS (
        SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        FROM flat a JOIN flat b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
    uc AS (SELECT tok AS w1, COUNT(*) AS c1 FROM flat GROUP BY tok),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM flat),
    lm AS (
        SELECT bi.doc_id, ROUND(AVG(-LN((bc.c2 + 1.0) / (uc.c1 + vocab.v))), 6)
                   AS avg_nll
        FROM bi JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
        JOIN uc ON uc.w1 = bi.w1 CROSS JOIN vocab
        GROUP BY bi.doc_id
    ),
    lm_bound AS (SELECT QUANTILE_CONT(avg_nll, 0.9) AS nll90 FROM lm),
    votes AS (
        SELECT g.doc_id,
               g.pass_gopher, lc.pass_lang,
               CAST(l.avg_nll <= b.nll90 AS BOOLEAN) AS pass_lm,
               (g.pass_gopher::INT + lc.pass_lang::INT
                + (l.avg_nll <= b.nll90)::INT) AS n_votes
        FROM gopher g
        JOIN langconf lc ON lc.doc_id = g.doc_id
        JOIN lm l ON l.doc_id = g.doc_id
        CROSS JOIN lm_bound b
    )
    SELECT CAST(n_votes AS INT) AS n_votes,
           COUNT(*) AS n_docs,
           CAST(SUM(pass_gopher::INT) AS BIGINT) AS n_gopher,
           CAST(SUM(pass_lang::INT) AS BIGINT) AS n_lang,
           CAST(SUM(pass_lm::INT) AS BIGINT) AS n_lm
    FROM votes GROUP BY n_votes
    """,
)
def pipeline_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ENSEMBLE: three independent signals — Gopher
    structural rules, language-marker confidence, and bigram-LM NLL under
    the corpus p90 — vote per document; the keep policy is majority
    (n_votes ≥ 2), and the output is the vote-distribution audit that
    shows how the signals agree (the table a curation review actually
    reads before picking thresholds). Composes three of the engine's own
    operators; the oracle re-derives all three end-to-end.

    Scale shape: the LM model joins dominate (same keyed shuffles as
    text_bigram_lm_score); the rule signals are scan projections; the
    vote rollup is map-side combined."""
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n_words = F.size(t)
    mean_wl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words
    pass_gopher = (
        n_words.between(50, 100000)
        & mean_wl.between(3, 10)
        & (F.size(F.filter(t, lambda w: w.isin("the", "be", "to", "of", "and"))) >= 2)
    )
    pass_lang = (
        F.size(F.filter(t, lambda w: w.isin("the", "a", "of", "fast", "slow"))).cast("double")
        / n_words
        >= 0.05
    )
    sigs = d.select("doc_id", pass_gopher.alias("pass_gopher"), pass_lang.alias("pass_lang"))

    from data_ingestor_web_app_spark.llm.lm_score import text_bigram_lm_score

    lm = text_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_nll")
    bound = lm.agg(F.expr("percentile(avg_nll, 0.9D)").alias("nll90"))
    votes = (
        sigs.join(lm, "doc_id")
        .crossJoin(F.broadcast(bound))
        .select(
            "pass_gopher",
            "pass_lang",
            (F.col("avg_nll") <= F.col("nll90")).alias("pass_lm"),
        )
        .withColumn(
            "n_votes",
            F.col("pass_gopher").cast("int")
            + F.col("pass_lang").cast("int")
            + F.col("pass_lm").cast("int"),
        )
    )
    return votes.groupBy("n_votes").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("pass_gopher").cast("int")).cast("long").alias("n_gopher"),
        F.sum(F.col("pass_lang").cast("int")).cast("long").alias("n_lang"),
        F.sum(F.col("pass_lm").cast("int")).cast("long").alias("n_lm"),
    )


@query(
    "graph_link_prediction",
    oracle="""
    WITH nodes AS (SELECT n_nationkey AS v FROM nation),
    edges AS (
        SELECT v AS src, (v + j) % 25 AS dst
        FROM nodes CROSS JOIN (SELECT UNNEST([1, 2, 3, 4]) AS j)
        WHERE j <= (v % 4) + 1
    ),
    und AS (
        SELECT src, dst FROM edges
        UNION SELECT dst, src FROM edges
    ),
    pairs AS (
        SELECT a.v AS u, b.v AS w
        FROM nodes a JOIN nodes b ON a.v < b.v
        WHERE NOT EXISTS (SELECT 1 FROM und e
                          WHERE e.src = a.v AND e.dst = b.v)
    ),
    common AS (
        SELECT p.u, p.w, COUNT(*) AS cn
        FROM pairs p
        JOIN und ea ON ea.src = p.u
        JOIN und eb ON eb.src = p.w AND eb.dst = ea.dst
        GROUP BY p.u, p.w
    ),
    deg AS (SELECT src AS v, COUNT(*) AS d FROM und GROUP BY src)
    SELECT c.u, c.w, CAST(c.cn AS BIGINT) AS common_neighbors,
           ROUND(c.cn * 1.0 / (da.d + db.d - c.cn), 6) AS jaccard
    FROM common c
    JOIN deg da ON da.v = c.u
    JOIN deg db ON db.v = c.w
    WHERE c.cn >= 2
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors / Jaccard link prediction on the variable-fanout
    graph (graph_kcore_unrolled's fixture): for every NON-edge pair with
    ≥2 shared neighbors, the classic similarity scores that rank missing
    links. The candidate set comes from the two-hop join (neighbors of
    neighbors), never the full V² product — only the anti-join against
    existing edges touches the pair space, and it's keyed.

    Scale shape: two-hop candidate generation is a self-join of the
    adjacency list on the shared-neighbor key; degree join is broadcast
    (|V| rows). Exactly the SimRank-lite plan used at graph scale."""
    nodes = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("v"))
    js = spark.range(1, 5).select(F.col("id").cast("int").alias("j"))
    edges = (
        nodes.crossJoin(js)
        .where(F.col("j") <= (F.col("v") % 4) + 1)
        .select(F.col("v").alias("src"), ((F.col("v") + F.col("j")) % 25).alias("dst"))
    )
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    a = nodes.select(F.col("v").alias("u"))
    b = nodes.select(F.col("v").alias("w"))
    all_pairs = a.crossJoin(b).where(F.col("u") < F.col("w"))
    non_edges = all_pairs.join(
        und.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    ea = und.select(F.col("src").alias("u"), F.col("dst").alias("n1"))
    eb = und.select(F.col("src").alias("w"), F.col("dst").alias("n2"))
    common = (
        non_edges.join(ea, "u")
        .join(eb, "w")
        .where(F.col("n1") == F.col("n2"))
        .groupBy("u", "w")
        .agg(F.count("*").alias("cn"))
    )
    deg = und.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    da = deg.select(F.col("v").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("v").alias("w"), F.col("d").alias("dw"))
    return (
        common.join(F.broadcast(da), "u")
        .join(F.broadcast(db), "w")
        .where(F.col("cn") >= 2)
        .select(
            "u",
            "w",
            F.col("cn").cast("long").alias("common_neighbors"),
            F.round(F.col("cn") * 1.0 / (F.col("du") + F.col("dw") - F.col("cn")), 6).alias(
                "jaccard"
            ),
        )
    )


@query(
    "fn_string_extra",
    oracle="""
    SELECT c_custkey,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_id,
           TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels,
           REVERSE(c_name) AS name_rev,
           REPEAT('*', CAST(c_nationkey % 5 AS INT)) AS stars,
           SUBSTR(c_name, 1, 8) AS name_left8,
           SUBSTR(c_name, LENGTH(c_name) - 2, 3) AS name_right3
    FROM customer WHERE c_custkey < 3000
    """,
)
def fn_string_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar family: lpad (zero-padded ids), translate (charset
    mapping), reverse, repeat, left/right substrings — the formatting
    kit log/report layers use constantly.

    Scale shape: per-row JVM projection inside whole-stage codegen."""
    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") < 3000)
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_id"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_lower_vowels"),
        F.reverse("c_name").alias("name_rev"),
        F.expr("repeat('*', cast(c_nationkey % 5 as int))").alias("stars"),
        F.substring("c_name", 1, 8).alias("name_left8"),
        F.expr("substring(c_name, length(c_name) - 2, 3)").alias("name_right3"),
    )
