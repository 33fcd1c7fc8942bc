"""Wave-370: k-truss cohesion peeling (Cohen, NSA tech report 2008 —
"Trusses: cohesive subgraphs for social network analysis") and the chrF
character n-gram F-score (Popović, WMT 2015).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_ROUNDS = 3  # unrolled peel rounds toward the 4-truss (support >= 2)


def _truss_round_sql(r: int) -> str:
    """One peel round: keep edges of ed{r} with >= 2 triangles in ed{r}."""
    return f"""
    tri{r} AS (
        SELECT e1.u AS u, e1.v AS v, e2.v AS w
        FROM ed{r} e1
        JOIN ed{r} e2 ON e2.u = e1.v
        JOIN ed{r} e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    sup{r} AS (
        SELECT u, v, COUNT(*) AS s FROM (
            SELECT u, v FROM tri{r}
            UNION ALL SELECT v AS u, w AS v FROM tri{r}
            UNION ALL SELECT u, w AS v FROM tri{r}
        ) GROUP BY u, v
    ),
    ed{r + 1} AS MATERIALIZED (
        SELECT e.u, e.v
        FROM ed{r} e JOIN sup{r} s ON s.u = e.u AND s.v = e.v
        WHERE s.s >= 2
    )"""


@query(
    "graph_ktruss_unrolled",
    oracle=f"""
    WITH buckets AS (
        SELECT DISTINCT user_id, event_type,
               DATE_TRUNC('minute', ts) AS m
        FROM events
    ),
    ed0 AS MATERIALIZED (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM buckets a JOIN buckets b
          ON b.event_type = a.event_type AND b.m = a.m
         AND a.user_id < b.user_id
    ),
    {",".join(_truss_round_sql(r) for r in range(_ROUNDS))}
    SELECT CAST((SELECT COUNT(*) FROM ed0) AS BIGINT) AS n_edges_0,
           CAST((SELECT COUNT(*) FROM ed1) AS BIGINT) AS n_edges_1,
           CAST((SELECT COUNT(*) FROM ed2) AS BIGINT) AS n_edges_2,
           CAST((SELECT COUNT(*) FROM ed3) AS BIGINT) AS n_edges_3,
           (SELECT COUNT(*) FROM ed2) = (SELECT COUNT(*) FROM ed3)
               AS converged
    """,
)
def graph_ktruss_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss peeling (Cohen 2008): repeatedly delete edges supported
    by fewer than 2 triangles, the edge-cohesion analogue of k-core —
    every surviving edge sits in ≥ 2 triangles of the surviving graph,
    the subgraph fraud/community pipelines treat as "strong ties". Three
    unrolled rounds over the behavioral co-occurrence graph (same edge
    build as graph_triangle_count, dq.py); the output reports the edge
    count after every round plus a convergence bit (fixture graphs reach
    the fixed point well inside 3 rounds — asserted in pytest, and the
    converged flag makes any non-fixture divergence visible in data).

    Determinism: pure set/count arithmetic on canonical u < v edges.

    Scale shape: each round is the standard two-join triangle plan
    (wedge join on the shared endpoint + closing probe) followed by an
    edge-keyed support count — all equi-joins AQE can re-order; rounds
    are cached so the 3-reference triangle join reuses one edge
    materialization instead of re-deriving the co-occurrence self-join
    (the same reason the oracle marks ed{{r}} MATERIALIZED).

    Lineage (r11, VERDICT r10 item 3): each round references the prior
    edge set FIVE times (3 triangle aliases + the support semi-join's
    probe + the count), so a cache-only version grows the logical plan
    ~5^rounds and Catalyst analysis dominates the wall (the same failure
    mode graph_kcore_peel measured at >500 s un-truncated,
    operators/wave124.py:195-207). Rounds therefore truncate with
    localCheckpoint(eager=True) — the GraphX/Pregel superstep idiom; on a
    cluster, reliable checkpoint() or a per-round table write gives the
    same truncation with fault tolerance. Storage is reclaimed by the
    sweep tools' spark.catalog.clearCache()/checkpoint GC between
    queries."""
    buckets = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.date_trunc("minute", "ts").alias("m"),
        )
        .distinct()
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    edges = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.m") == F.col("a.m"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    counts = [edges.agg(F.count("*").cast("long").alias("n_edges_0"))]
    ed = edges
    for r in range(_ROUNDS):
        e1 = ed.select(F.col("u").alias("tu"), F.col("v").alias("tv"))
        e2 = ed.select(F.col("u").alias("tv"), F.col("v").alias("tw"))
        e3 = ed.select(F.col("u").alias("tu"), F.col("v").alias("tw"))
        tri = e1.join(e2, "tv").join(e3, ["tu", "tw"])
        sup = (
            tri.select(F.col("tu").alias("u"), F.col("tv").alias("v"))
            .unionAll(tri.select(F.col("tv").alias("u"), F.col("tw").alias("v")))
            .unionAll(tri.select(F.col("tu").alias("u"), F.col("tw").alias("v")))
            .groupBy("u", "v")
            .agg(F.count("*").alias("s"))
        )
        ed = (
            ed.join(sup.where(F.col("s") >= 2), ["u", "v"], "left_semi")
            .localCheckpoint(eager=True)
        )
        counts.append(
            ed.agg(F.count("*").cast("long").alias(f"n_edges_{r + 1}"))
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out.select(
        "n_edges_0",
        "n_edges_1",
        "n_edges_2",
        "n_edges_3",
        (F.col("n_edges_2") == F.col("n_edges_3")).alias("converged"),
    )


@query(
    "text_chrf_pairs",
    oracle="""
    WITH docs AS (
        SELECT doc_id, LOWER(text) AS tx FROM documents WHERE doc_id < 40
    ),
    grams AS (
        SELECT doc_id, SUBSTR(tx, CAST(i + 1 AS INT), 3) AS g
        FROM (SELECT doc_id, tx, UNNEST(range(length(tx) - 2)) AS i
              FROM docs WHERE length(tx) >= 3)
    ),
    gc AS (
        SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    ),
    pairs AS (
        SELECT h.doc_id AS hyp_id, h.doc_id + 1 AS ref_id,
               SUM(LEAST(h.c, r.c)) AS matched
        FROM gc h JOIN gc r ON r.doc_id = h.doc_id + 1 AND r.g = h.g
        WHERE h.doc_id % 2 = 0
        GROUP BY h.doc_id
    ),
    tots AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM gc GROUP BY doc_id
    )
    SELECT p.hyp_id, p.ref_id,
           CAST(p.matched AS BIGINT) AS n_matched,
           ROUND(p.matched * 1.0 / th.n, 6) AS chr_precision,
           ROUND(p.matched * 1.0 / tr.n, 6) AS chr_recall,
           ROUND(5.0 * (p.matched * 1.0 / th.n) * (p.matched * 1.0 / tr.n)
                 / (4.0 * (p.matched * 1.0 / th.n)
                    + (p.matched * 1.0 / tr.n)), 6) AS chrf2
    FROM pairs p
    JOIN tots th ON th.doc_id = p.hyp_id
    JOIN tots tr ON tr.doc_id = p.ref_id
    WHERE p.matched > 0
    ORDER BY p.hyp_id
    """,
)
def text_chrf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF character n-gram F-score (Popović, WMT 2015 — the
    tokenization-free MT metric that outlives word-level BLEU on
    morphology-rich languages): character 3-gram multiset overlap
    between even/odd document pairs, clipped counts (min per gram),
    precision against the hypothesis total, recall against the
    reference total, and chrF2 = 5PR/(4P + R) (β = 2, recall-weighted —
    the WMT standard). Companion to text_rouge_pairs / text_self_bleu2
    in the generation-eval shelf.

    Determinism: gram counts are exact integers; the F-chain is a fixed
    double expression; ROUND 6.

    Scale shape: character explode on a bounded doc sample (doc_id <
    40, documented cap), per-doc gram collapse with map-side partials,
    one gram-keyed equi-join per pair lane — linear in sampled chars."""
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 40)
        .select("doc_id", F.lower(F.col("text")).alias("tx"))
    )
    grams = (
        docs.where(F.length("tx") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tx) - 2),"
                    " i -> substring(tx, i, 3))"
                )
            ).alias("g"),
        )
    )
    gc = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    h = gc.select(
        F.col("doc_id").alias("hyp_id"), F.col("g").alias("g"), F.col("c").alias("hc")
    ).where(F.col("hyp_id") % 2 == 0)
    r = gc.select(
        (F.col("doc_id") - 1).alias("hyp_id"),
        F.col("g"),
        F.col("c").alias("rc"),
    )
    pairs = (
        h.join(r, ["hyp_id", "g"])
        .groupBy("hyp_id")
        .agg(F.sum(F.least(F.col("hc"), F.col("rc"))).alias("matched"))
    )
    tots = gc.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    th = tots.select(F.col("doc_id").alias("hyp_id"), F.col("n").alias("hn"))
    tr = tots.select((F.col("doc_id") - 1).alias("hyp_id"), F.col("n").alias("rn"))
    prec = F.col("matched") * 1.0 / F.col("hn")
    rec = F.col("matched") * 1.0 / F.col("rn")
    return (
        pairs.join(F.broadcast(th), "hyp_id")
        .join(F.broadcast(tr), "hyp_id")
        .where(F.col("matched") > 0)
        .select(
            "hyp_id",
            (F.col("hyp_id") + 1).alias("ref_id"),
            F.col("matched").cast("long").alias("n_matched"),
            F.round(prec, 6).alias("chr_precision"),
            F.round(rec, 6).alias("chr_recall"),
            F.round(5.0 * prec * rec / (4.0 * prec + rec), 6).alias("chrf2"),
        )
        .orderBy("hyp_id")
    )
