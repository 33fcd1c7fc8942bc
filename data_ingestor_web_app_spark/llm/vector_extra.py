"""Round-2 vector operators: embedding-cosine near-dup dedup, k-means
codebook refinement (unrolled Lloyd iterations), multi-probe LSH.

Same determinism discipline as llm/similarity.py: all vector math is
JVM-side higher-order functions, doubles everywhere, dots/averages rounded
to 6dp before any argmax or comparison so the DuckDB oracle replays the
exact same decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm.vector_common import (
    SIM_COSINE_TOPK_ORACLE,
    best_centroid as _best_centroid,
    codebook_row as _codebook_row,
    dot as _dot,
    hyperplanes as _hyperplanes,
    norm as _norm,
    plane_micro_dot as _plane_micro_dot,
)
from data_ingestor_web_app_spark.registry import query

# Shared oracle fragment: exploded embeddings + label-mean codebook +
# rounded per-centroid dots (1-based i from GENERATE_SUBSCRIPTS).
_ORACLE_UE_C0 = """
    ue AS (
        SELECT vec_id, label, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    ),
    c0 AS (
        SELECT label AS c_label, i, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
        FROM ue GROUP BY label, i
    )
"""


@query(
    "dedup_embedding",
    oracle=f"""
    WITH {_ORACLE_UE_C0},
    dots0 AS (
        SELECT u.vec_id, c.c_label, ROUND(SUM(CAST(u.x AS DOUBLE) * c.cx), 6) AS dot
        FROM ue u JOIN c0 c ON u.i = c.i
        GROUP BY u.vec_id, c.c_label
    ),
    assign AS (
        SELECT vec_id, c_label FROM (
            SELECT vec_id, c_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, c_label) AS rk
            FROM dots0) t WHERE rk = 1
    ),
    norms AS (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM ue GROUP BY vec_id
    ),
    cand AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM assign a JOIN assign b
          ON a.c_label = b.c_label AND a.vec_id < b.vec_id
    ),
    pdots AS (
        SELECT c.doc_a, c.doc_b, SUM(CAST(ua.x AS DOUBLE) * CAST(ub.x AS DOUBLE)) AS dot
        FROM cand c
        JOIN ue ua ON ua.vec_id = c.doc_a
        JOIN ue ub ON ub.vec_id = c.doc_b AND ub.i = ua.i
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(p.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM pdots p
    JOIN norms na ON na.vec_id = p.doc_a
    JOIN norms nb ON nb.vec_id = p.doc_b
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE p.dot / (na.nrm * nb.nrm) >= 0.35
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over the documents table (doc_id joins
    embeddings.vec_id 1:1): candidate pairs come from IVF coarse-quantizer
    BLOCKING — both docs must land on the same broadcast-codebook centroid —
    then the exact cosine >= 0.35 verifies each candidate. Keep-rule is
    lowest id (doc_a < doc_b, so doc_a is the keeper of each pair).

    Scale: this is the embedding twin of dedup_minhash_lsh — candidates per
    bucket are ~N/K, never all-pairs. The blocking step never shuffles the
    corpus (broadcast centroids + per-row argmax); the pair join shuffles on
    the centroid label only within buckets. Blocking recall (<1 near
    centroid boundaries, like any ANN blocker) is measured in pytest against
    the bounded all-pairs truth; the hash check proves Spark and the oracle
    agree on the same blocked candidate set and cosines."""
    e = table(spark, sf_dir, "embeddings")
    d = table(spark, sf_dir, "documents").select("doc_id")
    base = (
        e.join(d, e.vec_id == d.doc_id)
        .select("doc_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    )
    # r11 lineage truncation (wave124 idiom): the K-row codebook is
    # referenced through _codebook_row by BOTH sides of the candidate
    # self-join — untruncated, Catalyst re-analyzes the posexplode +
    # double-groupBy subtree per reference; checkpointing K rows is free.
    cent = _label_means(e).localCheckpoint(eager=True)
    # r11 (guide §2.4): per-row fold argmax against the broadcast codebook
    # row — drops the crossJoin-K + vec_id window (an N*K corpus shuffle)
    # AND the join back onto `base` that re-attached the embedding the
    # window path had to drop. Same (6dp dot DESC, c_label ASC) rule.
    blocked = base.crossJoin(_codebook_row(cent)).select(
        "doc_id", "embedding",
        _best_centroid("embedding")["c_label"].alias("c_label"),
    )
    # r11 (guide §4.2, the sim_knn_graph pattern): per-pair verification is
    # a block-pair numpy GEMM per centroid bucket instead of a bucket
    # self-join + an interpreted zip_with/aggregate dot per pair — the fold
    # evaluated ~200k pairs x 64 elementwise lambdas (measured ~1.5 s of
    # the 2.4 s verify wall at sf0.1) where one matmul per block pair is
    # milliseconds. Shuffle is 2·B embedding copies per corpus row (B
    # small) instead of the bucket self-join's quadratic joined-row
    # materialization, and no task holds more than a (bucket/B)^2 tile.
    # Cosines are float64 rounded to 6dp before emission — the same
    # discipline the knn-graph GEMM already hash-verifies against the
    # DuckDB oracle (both engines' sums are unordered; 6dp absorbs
    # last-ulp association differences).
    return _bucket_pair_cosines(spark, blocked, threshold=0.35)


def _bucket_pair_cosines(
    spark: SparkSession, blocked: DataFrame, threshold: float
) -> DataFrame:
    """All within-bucket pairs (doc_a < doc_b) with raw cosine >= threshold,
    via the sim_knn_graph block-pair GEMM: rows hash into B sub-blocks per
    bucket, every row fans out to its (q-role, c-role) block pairs, one
    numpy matmul per (bucket, qb, cb) group emits the surviving pairs.
    Each unordered pair appears in exactly ONE group as (q < c), so the
    in-kernel doc_a < doc_b mask is also the global dedup. B is derived
    from defaultParallelism (scale-adaptive), not a local constant."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    par = spark.sparkContext.defaultParallelism
    # enough (bucket, qb, cb) tasks to feed the cluster even when a few
    # buckets dominate; the knn-graph 64 cap bounds replication
    n_blocks = max(1, min(64, int(-(-((2 * par) ** 0.5) // 1))))
    blk = (F.col("doc_id") % n_blocks).cast("int")
    tags = F.array(*[F.lit(i) for i in range(n_blocks)])
    qx = blocked.select(
        "c_label", blk.alias("qb"), F.explode(tags).alias("cb"),
        F.col("doc_id").alias("id"), F.col("embedding").alias("v"),
        F.lit("q").alias("role"),
    )
    cx = blocked.select(
        "c_label", F.explode(tags).alias("qb"), blk.alias("cb"),
        F.col("doc_id").alias("id"), F.col("embedding").alias("v"),
        F.lit("c").alias("role"),
    )
    both = qx.unionByName(cx)
    out_schema = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame({"doc_a": [], "doc_b": [], "cosine": []}).astype(
        {"doc_a": "int64", "doc_b": "int64", "cosine": "float64"}
    )

    def pair_kernel(pdf):
        qs = pdf[pdf["role"] == "q"]
        cs = pdf[pdf["role"] == "c"]
        if qs.empty or cs.empty:
            return empty
        q = np.stack(qs["v"].to_numpy()).astype(np.float64)
        c = np.stack(cs["v"].to_numpy()).astype(np.float64)
        qids = qs["id"].to_numpy(dtype=np.int64)
        cids = cs["id"].to_numpy(dtype=np.int64)
        qn = np.sqrt((q * q).sum(axis=1))
        cn = np.sqrt((c * c).sum(axis=1))
        raw = (q @ c.T) / np.outer(qn, cn)
        # doc_a < doc_b both dedups (each unordered pair is q<c in exactly
        # one group) and excludes self; threshold applies to the RAW
        # cosine, as in the join formulation
        keep = (qids[:, None] < cids[None, :]) & (raw >= threshold)
        qi, ci = np.nonzero(keep)
        if qi.size == 0:
            return empty
        return pd.DataFrame(
            {
                "doc_a": qids[qi],
                "doc_b": cids[ci],
                "cosine": np.round(raw[qi, ci], 6),
            }
        )

    # r12: pin the pre-kernel exchange at defaultParallelism — the block
    # fan-out exists to feed every core, but AQE's bytes-based coalescing
    # squeezed the ~8 MB shuffle to ~7 tasks and serialized the GEMMs
    # (guide §2.5: shuffled bytes are a poor proxy for CPU-dense stages).
    # An explicit numPartitions repartition on the grouping keys is exempt
    # from AQE coalescing and satisfies applyInPandas' clustering, so no
    # second exchange is added.
    return (
        both.repartition(par, "c_label", "qb", "cb")
        .groupBy("c_label", "qb", "cb")
        .applyInPandas(pair_kernel, schema=out_schema)
    )


def _label_means(e: DataFrame) -> DataFrame:
    """(c_label, centroid) codebook from per-label means, each component
    ROUNDED to 6dp — rounding at every iteration boundary is what keeps the
    Spark and DuckDB k-means trajectories bit-identical."""
    ue = e.select(F.col("label").alias("c_label"), F.posexplode("embedding").alias("i", "x"))
    return _means_from(ue)


def _means_from(ue: DataFrame) -> DataFrame:
    """(c_label, i, x) rows -> (c_label, centroid array) with 6dp means."""
    return (
        ue.groupBy("c_label", "i")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("cx"))
        .groupBy("c_label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cx"))).alias("pairs"))
        .select("c_label", F.transform("pairs", lambda p: p.cx).alias("centroid"))
    )


def _assign_nearest(e: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, embedding, c_label): argmax-dot assignment against a
    broadcast codebook — rounded dot, c_label tie-break, corpus never
    shuffles. r11 (guide §2.4): per-row fold over the attached codebook
    array; the old crossJoin-K + row_number() window hash-partitioned N*K
    rows (embedding payload included) by vec_id — a corpus shuffle per
    Lloyd iteration that the per-row argmax never needed. Decision rule
    unchanged (6dp-rounded dot DESC, c_label ASC)."""
    return e.crossJoin(_codebook_row(cent)).select(
        "vec_id", "embedding", _best_centroid("embedding")["c_label"].alias("c_label")
    )


# One Lloyd iteration, unrolled twice in both engines: assign to nearest
# rounded centroid (dot argmax, label tie-break), recompute 6dp means.
_ORACLE_LLOYD_ITER = """
    dots{k} AS (
        SELECT u.vec_id, c.c_label, ROUND(SUM(CAST(u.x AS DOUBLE) * c.cx), 6) AS dot
        FROM ue u JOIN c{j} c ON u.i = c.i
        GROUP BY u.vec_id, c.c_label
    ),
    a{k} AS (
        SELECT vec_id, c_label FROM (
            SELECT vec_id, c_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, c_label) AS rk
            FROM dots{k}) t WHERE rk = 1
    ),
    c{k} AS (
        SELECT a.c_label, u.i, ROUND(AVG(CAST(u.x AS DOUBLE)), 6) AS cx
        FROM a{k} a JOIN ue u ON u.vec_id = a.vec_id
        GROUP BY a.c_label, u.i
    )
"""


@query(
    "sim_kmeans_iter",
    oracle=f"""
    WITH {_ORACLE_UE_C0},
    {_ORACLE_LLOYD_ITER.format(k=1, j=0)},
    {_ORACLE_LLOYD_ITER.format(k=2, j=1)}
    SELECT c_label, i - 1 AS i, cx, n_members FROM c2
    JOIN (SELECT c_label AS cl, COUNT(*) AS n_members FROM a2 GROUP BY c_label) m
      ON m.cl = c2.c_label
    """,
)
def sim_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means codebook refinement for IVF — two unrolled Lloyd iterations
    as ONE Catalyst plan: init = per-label means, then twice (assign every
    vector to its argmax-dot centroid, recompute 6dp per-dimension means).
    Output is the refined codebook, one row per (centroid, dimension), plus
    each centroid's member count.

    Scale shape per iteration: the codebook is K x dim (tiny, broadcast);
    assignment is a per-row argmax — the corpus is scanned, never shuffled;
    the mean recompute shuffles only K x dim partial (sum, count) pairs
    thanks to map-side partial aggregation. Iterations compose as plan
    depth, not data movement. Rounding the centroids to 6dp at every
    iteration boundary makes the whole trajectory — assignments included —
    reproducible bit-exactly in the DuckDB oracle (driver hash check), which
    is how the operator is verified without a clustering-quality proxy."""
    e = table(spark, sf_dir, "embeddings")
    # r11 lineage truncation (wave124 idiom): each Lloyd iteration's plan
    # otherwise embeds the previous iteration's WHOLE subtree at every
    # codebook reference (assignment + mean recompute + member count), so
    # analysis cost grows multiplicatively with unrolled iterations — the
    # sim_sinkhorn_ot lesson. The codebook is K x dim (tiny); eagerly
    # checkpointing it between iterations truncates the plan while the
    # corpus-side dataflow (scan, per-row argmax, partial-agg means) is
    # unchanged.
    cent = _label_means(e).localCheckpoint(eager=True)
    for _ in range(2):
        assigned = _assign_nearest(e, cent)
        ue = assigned.select("c_label", F.posexplode("embedding").alias("i", "x"))
        cent = _means_from(ue).localCheckpoint(eager=True)
        last_assigned = assigned
    members = last_assigned.groupBy("c_label").agg(F.count("*").alias("n_members"))
    return (
        cent.select("c_label", F.posexplode("centroid").alias("i", "cx"))
        .join(F.broadcast(members), "c_label")
        .select("c_label", "i", "cx", "n_members")
    )


from data_ingestor_web_app_spark.llm.vector_common import (
    ann_bucket_ctes as _ann_bucket_ctes,
)

_MULTIPROBE_ORACLE = f"""
    WITH {_ann_bucket_ctes()},
    mr AS (
        SELECT vec_id, p,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ABS(d), p) AS r
        FROM pd
    ),
    flips AS (
        SELECT vec_id, MAX(CASE WHEN r = 1 THEN p END) AS m0,
               MAX(CASE WHEN r = 2 THEN p END) AS m1
        FROM mr GROUP BY vec_id
    ),
    probes AS (
        SELECT vec_id AS qid, bucket FROM bits
        UNION ALL
        SELECT b.vec_id, XOR(b.bucket, CAST(1 << f.m0 AS BIGINT))
        FROM bits b JOIN flips f USING (vec_id)
        UNION ALL
        SELECT b.vec_id, XOR(b.bucket, CAST(1 << f.m1 AS BIGINT))
        FROM bits b JOIN flips f USING (vec_id)
    ),
    cand AS (
        SELECT DISTINCT pr.qid, c.vec_id AS nid
        FROM probes pr
        JOIN bits c ON c.bucket = pr.bucket AND c.vec_id <> pr.qid
    ),
    dots AS (
        SELECT cd.qid, cd.nid, SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        FROM cand cd
        JOIN ex a ON a.vec_id = cd.qid
        JOIN ex b ON b.vec_id = cd.nid AND b.i = a.i
        GROUP BY cd.qid, cd.nid
    ),
    cos AS (
        SELECT d.qid, d.nid, ROUND(d.dot / (nq.nrm * nn.nrm), 6) AS cosine
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.qid
        JOIN norms nn ON nn.vec_id = d.nid
    )
    SELECT qid, nid, cosine, rk FROM (
        SELECT qid, nid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rk
        FROM cos) t
    WHERE rk <= 3
    """


@query("sim_ann_multiprobe", oracle=_MULTIPROBE_ORACLE)
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN — same random-hyperplane buckets as sim_ann_lsh,
    but each QUERY additionally probes the two buckets reached by flipping
    its lowest-|margin| sign bits (the classic multi-probe trick: a point
    near a hyperplane is likely bucketed on either side of it). Corpus rows
    stay in exactly ONE bucket — index size is unchanged; only the query
    fan-out grows 3x, raising recall without touching the stored index.
    Candidates = bucket join, exact cosine re-rank, top-3 per query.
    pytest measures recall vs exact top-3 and asserts it beats single-probe
    sim_ann_lsh."""
    e = table(spark, sf_dir, "embeddings")
    # integer micro-dot projections: sign test AND |margin| ranking are
    # order-independent, so the DuckDB oracle's unordered SUM can never flip
    # a bucket bit or reorder the probe sequence (r5 ADVICE). r11: all 12
    # projections from ONE literal plane matrix + fold (micro_dots_all) —
    # the old 12 separate folds, each referenced again by the margins
    # array, made Catalyst planning the dominant cost (warm wall 4.3 s,
    # <1 s task time).
    from data_ingestor_web_app_spark.llm.vector_common import (
        N_PLANES as _N_PLANES,
        bucket_from_micro_dots as _bucket_from_micro_dots,
        micro_dots_all as _micro_dots_all,
    )

    pd_base = e.select(
        "vec_id", "embedding", _micro_dots_all("embedding").alias("pd"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    margins = F.array_sort(
        F.zip_with(
            F.col("pd"),
            F.sequence(F.lit(0), F.lit(_N_PLANES - 1)),
            lambda d, i: F.struct(F.abs(d).alias("m"), i.alias("i")),
        )
    )
    base = pd_base.select(
        "vec_id", "embedding",
        _bucket_from_micro_dots(F.col("pd")).alias("bucket"),
        margins.alias("margins"),
        "nrm",
    )
    # corpus: one bucket per vector (the stored index)
    corpus = base.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"), "bucket",
    )
    # queries: probe own bucket + the two lowest-margin bit flips
    q = base.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.explode(
            F.array(
                F.col("bucket"),
                F.expr("bucket ^ shiftleft(1, margins[0].i)"),
                F.expr("bucket ^ shiftleft(1, margins[1].i)"),
            )
        ).alias("bucket"),
    )
    cand = q.join(corpus, ["bucket"]).where(F.col("qid") != F.col("nid"))
    cos = F.round(_dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn")), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        cand.select("qid", "nid", cos.alias("cosine"))
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
    )


# DuckDB twin of dedup_ngram's shingle pair set (kept in lockstep with
# llm/dedup.py's dedup_ngram oracle).
_ORACLE_NGRAM_PAIRS = """
    t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3
    ),
    sh AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, n - 1),
                   i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 2), ' '))) AS shingles
        FROM t
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    ip AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT p.doc_a, p.doc_b
        FROM ip p
        JOIN sh sa ON sa.doc_id = p.doc_a
        JOIN sh sb ON sb.doc_id = p.doc_b
        WHERE p.inter * 1.0 / (LEN(sa.shingles) + LEN(sb.shingles) - p.inter) >= 0.9
    )
"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH {_ORACLE_NGRAM_PAIRS},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
        UNION ALL SELECT doc_a, doc_a FROM pairs
        UNION ALL SELECT doc_b, doc_b FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    l1 AS (SELECT e.dst AS node, MIN(l.label) AS label
           FROM edges e JOIN l0 l ON l.node = e.src GROUP BY e.dst),
    l2 AS (SELECT e.dst AS node, MIN(l.label) AS label
           FROM edges e JOIN l1 l ON l.node = e.src GROUP BY e.dst),
    l3 AS (SELECT e.dst AS node, MIN(l.label) AS label
           FROM edges e JOIN l2 l ON l.node = e.src GROUP BY e.dst)
    SELECT node AS doc_id, label AS cluster_rep,
           CASE WHEN node = label THEN 1 ELSE 0 END AS is_keeper
    FROM l3
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the union-find
    step every dedup pipeline needs between "emit pairs" and "drop rows":
    a document keeps only if it is its cluster's minimum id, even when
    duplicate relations chain A~B~C without A~C ever pairing directly.

    Implementation is Pregel-style min-label propagation as pure DataFrame
    ops: edges = the dedup_ngram verified pairs symmetrized + self-loops;
    labels init to own id; 3 unrolled rounds of
    label(v) <- min over neighbors u of label(u). Near-dup clusters are
    near-cliques (diameter ≤ ~2), so 3 rounds is converged; at 100 TB with
    adversarial chains, the same round repeats until a
    changed-count aggregate hits zero — each round is ONE shuffle keyed on
    node, the classic distributed-CC bound (PAPERS.md: Kiveris et al.,
    "Connected Components in MapReduce and Beyond").
    """
    from data_ingestor_web_app_spark.llm.dedup import prefix_filtered_pairs

    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).where(F.col("n") >= 3)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 2),
            lambda i: F.array_join(F.slice("toks", i, 3), " "),
        )
    )
    sh = base.select("doc_id", shingles.alias("toks"))
    _cand, pairs = prefix_filtered_pairs(sh, tau=0.9)
    p = pairs.select("doc_a", "doc_b").cache()
    edges = (
        p.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(p.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .unionByName(p.select(F.col("doc_a").alias("src"), F.col("doc_a").alias("dst")))
        .unionByName(p.select(F.col("doc_b").alias("src"), F.col("doc_b").alias("dst")))
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(3):
        labels = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("n2"))
            .agg(F.min("label").alias("label"))
            .select(F.col("n2").alias("node"), "label")
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_rep"),
        F.when(F.col("node") == F.col("label"), 1).otherwise(0).alias("is_keeper"),
    )


@query(
    "sim_rerank_mmr",
    oracle="""
    WITH ue AS (
        SELECT vec_id, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM ue GROUP BY vec_id
    ),
    qdots AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               SUM(CAST(q.x AS DOUBLE) * CAST(c.x AS DOUBLE)) AS dot
        FROM ue q JOIN ue c ON c.i = q.i AND q.vec_id < 10 AND c.vec_id <> q.vec_id
        GROUP BY 1, 2
    ),
    qcos AS (
        SELECT d.qid, d.nid,
               CAST(ROUND(d.dot / (nq.nrm * nn.nrm) * 1e6) AS BIGINT) AS mcos
        FROM qdots d
        JOIN norms nq ON nq.vec_id = d.qid
        JOIN norms nn ON nn.vec_id = d.nid
    ),
    cand AS (
        SELECT qid, nid, mcos FROM (
            SELECT qid, nid, mcos,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mcos DESC, nid) AS rk
            FROM qcos) t WHERE rk <= 10
    ),
    psims AS (
        SELECT a.qid, a.nid AS na, b.nid AS nb,
               CAST(ROUND(SUM(CAST(ua.x AS DOUBLE) * CAST(ub.x AS DOUBLE))
                          / (nna.nrm * nnb.nrm) * 1e6) AS BIGINT) AS msim
        FROM cand a
        JOIN cand b ON b.qid = a.qid AND b.nid <> a.nid
        JOIN ue ua ON ua.vec_id = a.nid
        JOIN ue ub ON ub.vec_id = b.nid AND ub.i = ua.i
        JOIN norms nna ON nna.vec_id = a.nid
        JOIN norms nnb ON nnb.vec_id = b.nid
        GROUP BY a.qid, a.nid, b.nid, nna.nrm, nnb.nrm
    ),
    s1 AS (
        SELECT qid, nid, 7 * mcos AS score FROM (
            SELECT qid, nid, mcos,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mcos DESC, nid) AS rk
            FROM cand) t WHERE rk = 1
    ),
    s2 AS (
        SELECT qid, nid, score FROM (
            SELECT c.qid, c.nid, 7 * c.mcos - 3 * p.msim AS score,
                   ROW_NUMBER() OVER (PARTITION BY c.qid
                                      ORDER BY 7 * c.mcos - 3 * p.msim DESC, c.nid) AS rk
            FROM cand c
            JOIN s1 ON s1.qid = c.qid AND c.nid <> s1.nid
            JOIN psims p ON p.qid = c.qid AND p.na = c.nid AND p.nb = s1.nid
        ) t WHERE rk = 1
    ),
    s3 AS (
        SELECT qid, nid, score FROM (
            SELECT c.qid, c.nid,
                   7 * c.mcos - 3 * GREATEST(p1.msim, p2.msim) AS score,
                   ROW_NUMBER() OVER (PARTITION BY c.qid
                                      ORDER BY 7 * c.mcos - 3 * GREATEST(p1.msim, p2.msim) DESC,
                                               c.nid) AS rk
            FROM cand c
            JOIN s1 ON s1.qid = c.qid
            JOIN s2 ON s2.qid = c.qid
            JOIN psims p1 ON p1.qid = c.qid AND p1.na = c.nid AND p1.nb = s1.nid
            JOIN psims p2 ON p2.qid = c.qid AND p2.na = c.nid AND p2.nb = s2.nid
            WHERE c.nid <> s1.nid AND c.nid <> s2.nid
        ) t WHERE rk = 1
    )
    SELECT qid, nid, 1 AS pick, score FROM s1
    UNION ALL SELECT qid, nid, 2, score FROM s2
    UNION ALL SELECT qid, nid, 3, score FROM s3
    """,
)
def sim_rerank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's top-10 cosine candidates, greedily pick 3 results
    maximizing lambda*relevance - (1-lambda)*max-similarity-to-already-
    picked (lambda=0.7) — the diversification stage between ANN retrieval
    and an LLM context window.

    Every scoring decision happens in INTEGER micro-units (mcos =
    round(cosine*1e6) as long; score = 7*mcos - 3*msim, i.e. 10x the
    float formula): the greedy argmax chain replays bit-exactly in the
    DuckDB oracle with zero float-rounding exposure — the technique to
    reach for whenever an iterative selection must be cross-engine
    deterministic. The greedy unroll is 3 fixed steps (plan depth, not
    driver loops); candidate sets are per-query top-10, so the pairwise
    sim matrix is 10x10 per query regardless of corpus size."""
    e = table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    q = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    mcos = F.round(_dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")) * 1e6).cast("long")
    qcos = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"), mcos.alias("mcos"))
    )
    w_q = Window.partitionBy("qid").orderBy(F.col("mcos").desc(), F.col("nid"))
    # r11 lineage truncation (wave124 idiom): cand is 10 rows per query but
    # its subtree is a corpus x |q| broadcast join + a 10N-row ranking
    # window; the greedy unroll references it (directly and via psims)
    # ~10 times across the s1/s2/s3 branches, re-running that corpus pass
    # per reference. Checkpointing the 100-row frame makes it one pass.
    cand = (
        qcos.withColumn("rk", F.row_number().over(w_q))
        .where(F.col("rk") <= 10)
        .drop("rk")
        .localCheckpoint(eager=True)
    )
    # candidate embeddings for the pairwise sim matrix (10 per query)
    cemb = cand.join(base, cand.nid == base.vec_id).select(
        "qid", "nid", "mcos", "embedding", "nrm"
    )
    a = cemb.select("qid", F.col("nid").alias("ca"), F.col("embedding").alias("ea"), F.col("nrm").alias("ca_n"))
    b = cemb.select("qid", F.col("nid").alias("cb"), F.col("embedding").alias("eb"), F.col("nrm").alias("cb_n"))
    msim = F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("ca_n") * F.col("cb_n")) * 1e6).cast("long")
    psims = (
        a.join(b, ["qid"])
        .where(F.col("ca") != F.col("cb"))
        .select("qid", "ca", "cb", msim.alias("msim"))
        # ~90 rows per query, referenced by s2 and twice by s3
        .localCheckpoint(eager=True)
    )
    s1 = (
        cand.withColumn("rk", F.row_number().over(w_q))
        .where(F.col("rk") == 1)
        .select("qid", F.col("nid").alias("s1_nid"), (7 * F.col("mcos")).alias("s1_score"))
    )
    psims_r = psims.withColumnRenamed("qid", "pq")
    step2 = (
        cand.join(s1, "qid")
        .where(F.col("nid") != F.col("s1_nid"))
        .join(
            psims_r,
            (F.col("pq") == F.col("qid")) & (F.col("ca") == F.col("nid")) & (F.col("cb") == F.col("s1_nid")),
        )
        .select("qid", "nid", (7 * F.col("mcos") - 3 * F.col("msim")).alias("score"))
    )
    w_s = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid"))
    s2 = (
        step2.withColumn("rk", F.row_number().over(w_s))
        .where(F.col("rk") == 1)
        .select("qid", F.col("nid").alias("s2_nid"), F.col("score").alias("s2_score"))
    )
    p1 = psims.select(
        F.col("qid").alias("pq1"), F.col("ca").alias("ca1"),
        F.col("cb").alias("cb1"), F.col("msim").alias("msim1"),
    )
    p2 = psims.select(
        F.col("qid").alias("pq2"), F.col("ca").alias("ca2"),
        F.col("cb").alias("cb2"), F.col("msim").alias("msim2"),
    )
    step3 = (
        cand.join(s1, "qid")
        .join(s2, "qid")
        .where((F.col("nid") != F.col("s1_nid")) & (F.col("nid") != F.col("s2_nid")))
        .join(p1, (F.col("pq1") == F.col("qid")) & (F.col("ca1") == F.col("nid")) & (F.col("cb1") == F.col("s1_nid")))
        .join(p2, (F.col("pq2") == F.col("qid")) & (F.col("ca2") == F.col("nid")) & (F.col("cb2") == F.col("s2_nid")))
        .select(
            "qid",
            "nid",
            (7 * F.col("mcos") - 3 * F.greatest("msim1", "msim2")).alias("score"),
        )
    )
    s3 = (
        step3.withColumn("rk", F.row_number().over(w_s))
        .where(F.col("rk") == 1)
        .select("qid", F.col("nid").alias("s3_nid"), F.col("score").alias("s3_score"))
    )
    return (
        s1.select("qid", F.col("s1_nid").alias("nid"), F.lit(1).alias("pick"), F.col("s1_score").alias("score"))
        .unionByName(s2.select("qid", F.col("s2_nid").alias("nid"), F.lit(2).alias("pick"), F.col("s2_score").alias("score")))
        .unionByName(s3.select("qid", F.col("s3_nid").alias("nid"), F.lit(3).alias("pick"), F.col("s3_score").alias("score")))
    )


@query("sim_cosine_topk_pandas", oracle=SIM_COSINE_TOPK_ORACLE)
def sim_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-vectorized twin of sim_cosine_topk — SAME oracle, SAME
    answer, different physical strategy: instead of JVM higher-order
    functions per row, each Arrow batch of corpus vectors becomes one numpy
    matrix and the per-batch scores are ONE matmul against the broadcast
    query matrix (the classic batched-BLAS ANN verifier). Partial per-batch
    top-k candidates then reduce through the usual per-query window.

    When to prefer which: the HOF plan stays entirely JVM-side (no
    serialization) and wins at small dims; the matmul path amortizes Python
    crossing over dim*batch work and wins as vectors widen. Per-batch
    emission is top-5-per-query within the batch (bounded output per task),
    so the window's input is ~5*n_batches rows per query, not the corpus.

    The ONLY driver-side materialization is the query matrix itself — an
    explicitly BOUNDED set (vec_id < 20, i.e. 20x64 floats) that ships to
    executors inside the closure exactly like a broadcast variable; the
    corpus side streams through Arrow batches and is never collected. This
    is the sanctioned exception to the no-collect rule (same posture as
    broadcast dims): unbounded query sets must go through the join-based
    sim_cosine_topk instead."""
    import numpy as np

    e = table(spark, sf_dir, "embeddings")
    qrows = sorted(
        (r["vec_id"], r["embedding"])
        for r in e.where(F.col("vec_id") < 20).select("vec_id", "embedding").collect()
    )
    qids = np.array([q[0] for q in qrows])
    qmat = np.array([q[1] for q in qrows], dtype=np.float64)  # (Q, D)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))  # (Q,)

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            nids = pdf["vec_id"].to_numpy()
            cmat = np.array(list(pdf["embedding"]), dtype=np.float64)  # (B, D)
            cnorm = np.sqrt((cmat * cmat).sum(axis=1))
            cosines = np.round((qmat @ cmat.T) / (qnorm[:, None] * cnorm[None, :]), 6)
            out = {"qid": [], "nid": [], "cosine": []}
            for qi in range(len(qids)):
                row = cosines[qi]
                mask = nids != qids[qi]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # per-batch partial top-5 (cosine desc, nid asc tie-break)
                order = sorted(cand_idx, key=lambda j: (-row[j], nids[j]))[:5]
                for j in order:
                    out["qid"].append(qids[qi])
                    out["nid"].append(int(nids[j]))
                    out["cosine"].append(float(row[j]))
            yield pd.DataFrame(out)

    scored = e.select("vec_id", "embedding").mapInPandas(
        score_batches, schema="qid long, nid long, cosine double"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
    )
