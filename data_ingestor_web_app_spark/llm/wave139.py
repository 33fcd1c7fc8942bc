"""Wave-139: greedy k-center seeding (farthest-first traversal) and
ColBERT-style MaxSim late-interaction scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm.vector_common import (
    ORACLE_DOT as _ORACLE_DOT,
    dot as _dot,
    norm as _norm,
)
from data_ingestor_web_app_spark.registry import query

_KC_K = 5  # centers


def _kcenter_oracle() -> str:
    # cosine DISTANCE d = 1 - cos; chained CTEs pick the farthest-from-
    # current-centers point each round (vec_id tie-break), MATERIALIZED so
    # DuckDB does not inline the scan 3^k times.
    ctes = [
        """ex AS MATERIALIZED (
        SELECT vec_id, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    )""",
        """norms AS MATERIALIZED (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM ex GROUP BY vec_id
    )""",
        """seed AS MATERIALIZED (
        SELECT MIN(vec_id) AS c FROM norms
    )""",
        # r11: the center's 64 element rows are a MATERIALIZED CTE — the old
        # form joined ex to ex "ON b.vec_id = (SELECT ...) AND b.i = a.i",
        # and DuckDB could not push the scalar-subquery filter into the
        # build side, so the hash join keyed on i alone exploded to
        # N*64 x N rows per round (measured 12.6 s at sf0.01 for ~1.6M
        # useful multiplies). Same dot/norm double chains, same values.
        """b1 AS MATERIALIZED (
        SELECT i, x FROM ex WHERE vec_id = (SELECT c FROM seed)
    )""",
        """d1 AS MATERIALIZED (
        SELECT n.vec_id,
               1 - SUM(CAST(a.x AS DOUBLE) * b.x)
                   / (n.nrm * (SELECT nrm FROM norms
                               WHERE vec_id = (SELECT c FROM seed))) AS dmin
        FROM norms n
        JOIN ex a ON a.vec_id = n.vec_id
        JOIN b1 b ON b.i = a.i
        GROUP BY n.vec_id, n.nrm
    )""",
    ]
    prev = "d1"
    picks = ["(SELECT c FROM seed) AS c1"]
    for r in range(2, _KC_K + 1):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
        SELECT vec_id AS c FROM {prev}
        ORDER BY dmin DESC, vec_id LIMIT 1
    )"""
        )
        ctes.append(
            f"""b{r} AS MATERIALIZED (
        SELECT i, x FROM ex WHERE vec_id = (SELECT c FROM p{r})
    )"""
        )
        ctes.append(
            f"""d{r} AS MATERIALIZED (
        SELECT p.vec_id,
               CASE WHEN 1 - s.dot / (na.nrm * nb.nrm) < p.dmin
                    THEN 1 - s.dot / (na.nrm * nb.nrm) ELSE p.dmin END AS dmin
        FROM {prev} p
        JOIN (SELECT a.vec_id,
                     SUM(CAST(a.x AS DOUBLE) * b.x) AS dot
              FROM ex a
              JOIN b{r} b ON b.i = a.i
              GROUP BY a.vec_id) s ON s.vec_id = p.vec_id
        JOIN norms na ON na.vec_id = p.vec_id
        JOIN norms nb ON nb.vec_id = (SELECT c FROM p{r})
    )"""
        )
        picks.append(f"(SELECT c FROM p{r}) AS c{r}")
        prev = f"d{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT {', '.join(picks)},"
        f"\n           ROUND((SELECT MAX(dmin) FROM {prev}), 6) AS coverage_radius"
    )


@query("sim_kcenter_greedy", oracle=_kcenter_oracle())
def sim_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center seeding / farthest-first traversal (Gonzalez 1985,
    public; the 2-approximation for metric k-center and the seeding
    kmeans++ descends from): start from the smallest vec_id, then 4×
    pick the point with the largest cosine distance to its nearest
    chosen center, maintaining the running min-distance column. Output:
    the 5 center ids and the final coverage radius max_v min_c d(v,c) —
    the diversity-maximizing sample a labeling or eval-set budget
    spends first.

    Determinism: each round's dot/norm chains are identical doubles;
    argmax breaks ties on vec_id; the min-distance update is a pure
    comparison.

    Scale shape: each round is ONE broadcast of the newly picked center
    against the corpus (no pairwise matrix), exactly k passes; the
    min-distance column is the only state. Lineage is
    localCheckpoint-truncated per round."""
    e = table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    ).localCheckpoint(eager=True)
    seed = base.agg(F.min("vec_id").alias("c")).collect()[0]["c"]
    picks = [int(seed)]

    def dist_to(center_id: int) -> DataFrame:
        c = base.where(F.col("vec_id") == center_id).select(
            F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
        )
        return base.crossJoin(F.broadcast(c)).select(
            "vec_id",
            (
                1
                - _dot(F.col("embedding"), F.col("ce"))
                / (F.col("nrm") * F.col("cn"))
            ).alias("d"),
        )

    dmin = dist_to(seed).select("vec_id", F.col("d").alias("dmin")).localCheckpoint(
        eager=True
    )
    for _ in range(_KC_K - 1):
        nxt = dmin.orderBy(F.col("dmin").desc(), "vec_id").limit(1).collect()[0][
            "vec_id"
        ]
        picks.append(int(nxt))
        nd = dist_to(nxt).select("vec_id", F.col("d").alias("dn"))
        dmin = (
            dmin.join(nd, "vec_id")
            .select(
                "vec_id",
                F.when(F.col("dn") < F.col("dmin"), F.col("dn"))
                .otherwise(F.col("dmin"))
                .alias("dmin"),
            )
            .localCheckpoint(eager=True)
        )
    radius = dmin.agg(F.round(F.max("dmin"), 6).alias("r")).collect()[0]["r"]
    # k scalar picks + one scalar radius cross the driver — metadata-sized,
    # the same boundary sim_kmeans_iter's unrolled loop uses
    return e.sparkSession.createDataFrame(
        [tuple(picks) + (float(radius),)],
        ", ".join(f"c{i + 1} long" for i in range(_KC_K)) + ", coverage_radius double",
    )


@query(
    "sim_maxsim_colbert",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, label, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM ex GROUP BY vec_id
    ),
    q AS (SELECT vec_id, i, x FROM ex WHERE label = 0 AND vec_id < 40),
    dots AS (
        SELECT q.vec_id AS qid, d.vec_id AS did, d.label,
               SUM(CAST(q.x AS DOUBLE) * d.x) AS dot
        FROM q JOIN (SELECT * FROM ex WHERE label <> 0) d ON d.i = q.i
        GROUP BY q.vec_id, d.vec_id, d.label
    ),
    cos AS (
        SELECT d.qid, d.label,
               d.dot / (nq.nrm * nd.nrm) AS c
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.qid
        JOIN norms nd ON nd.vec_id = d.did
    ),
    ms AS (
        SELECT qid, label,
               CAST(ROUND(1000000 * MAX(c)) AS BIGINT) AS maxsim_micro
        FROM cos GROUP BY qid, label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_query_vectors,
           CAST(SUM(maxsim_micro) AS BIGINT) AS score_micro
    FROM ms GROUP BY label
    """,
)
def sim_maxsim_colbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim late interaction (Khattab & Zaharia, SIGIR 2020 — ColBERT,
    public): the query is label-0's vector set (vec_id < 40); each
    candidate "document" is another label's vector set; score(D) =
    Σ_{q∈Q} max_{d∈D} cos(q, d) — every query vector finds its best
    match in the document, no single pooled vector ever formed. The
    retrieval paradigm between bi-encoders (one dot) and cross-encoders
    (full attention).

    Determinism: per-(q,d) cosines are identical double chains; the max
    per (q, label) collapses to one rounded micro-int, so the final
    per-label sums are exact integers.

    Scale shape: the query set broadcasts; the corpus is scanned once;
    the max is a map-side-combined groupBy. At 100 TB the per-label
    groups shard like any posting list."""
    e = table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = base.where((F.col("label") == 0) & (F.col("vec_id") < 40)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    d = base.where(F.col("label") != 0)
    cos = d.crossJoin(F.broadcast(q)).select(
        "qid",
        "label",
        (_dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm"))).alias(
            "c"
        ),
    )
    ms = cos.groupBy("qid", "label").agg(
        F.round(1000000 * F.max("c")).cast("long").alias("maxsim_micro")
    )
    return ms.groupBy("label").agg(
        F.count("*").cast("long").alias("n_query_vectors"),
        F.sum("maxsim_micro").cast("long").alias("score_micro"),
    )
