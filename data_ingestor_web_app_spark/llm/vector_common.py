"""Shared vector helpers + oracle fragments, with NO query registrations.

Exists so modules can share the JVM-side dot/norm higher-order-function
builders and the sim_cosine_topk oracle SQL without importing each other.
Anything imported across query-module boundaries lives here instead.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F


def dot(a, b):
    """JVM-side dot product over two ArrayType columns (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a):
    """JVM-side L2 norm of an ArrayType column."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def codebook_row(cent):
    """Collapse a (c_label, centroid) codebook DataFrame into ONE row
    holding array<struct<c_label, centroid>> — crossJoin(broadcast(.)) of
    this row attaches the whole codebook to every corpus row so argmax
    assignment is a per-row fold (r11, guide §2.4): the old shape
    (crossJoin each of the K centroids, then row_number() over
    Window.partitionBy(vec_id)) multiplied the corpus K-fold AND shuffled
    those N*K rows (embedding payload included) just to pick each row's
    max — at 100 TB that window exchange is a full corpus shuffle the
    assignment never needed."""
    from pyspark.sql import functions as F  # local: keep module surface unchanged

    return F.broadcast(
        cent.agg(F.collect_list(F.struct("c_label", "centroid")).alias("cents"))
    )


# Comparator mirror of "ORDER BY dot DESC, c_label ASC": total order because
# c_label is unique per codebook entry, so the argmax is independent of the
# collect_list assembly order of `cents`.
_BEST_CENTROID_CMP = """
    (l, r) -> CASE WHEN l.dot > r.dot THEN -1 WHEN l.dot < r.dot THEN 1
                   WHEN l.c_label < r.c_label THEN -1
                   WHEN l.c_label > r.c_label THEN 1 ELSE 0 END
"""


def centroid_dots_sorted(emb_col: str = "embedding"):
    """array<struct<dot, c_label>> of the per-row centroid dot products,
    sorted (dot DESC, c_label ASC). dot is the same zip_with+aggregate
    sequential fold as dot() above, rounded to 6dp BEFORE ranking — the
    exact decision rule the window formulation applied, so assignments are
    bit-identical."""
    from pyspark.sql import functions as F

    return F.expr(
        f"""
        array_sort(
          transform(cents, c -> named_struct(
            'dot', round(aggregate(zip_with({emb_col}, c.centroid,
                                            (x, y) -> cast(x as double)
                                                      * cast(y as double)),
                                   cast(0.0 as double),
                                   (acc, v) -> acc + v), 6),
            'c_label', c.c_label)),
          {_BEST_CENTROID_CMP})
        """
    )


def best_centroid(emb_col: str = "embedding"):
    """struct<dot, c_label> of the argmax-dot centroid (rounded-dot DESC,
    c_label ASC tie-break) against the attached `cents` codebook column."""
    from pyspark.sql import functions as F

    return F.element_at(centroid_dots_sorted(emb_col), 1)


N_PLANES = 12  # 2^12 LSH buckets; planes are a fixed seeded projection


def hyperplanes(dim: int = 64) -> list[list[float]]:
    rng = np.random.default_rng(20240813)
    return rng.standard_normal((N_PLANES, dim)).tolist()


def plane_micro_dot(emb, plane: list[float]):
    """Integer-quantized hyperplane projection: Σ floor((x·p)·1e9) as LONG.

    The LSH bucket bit is the SIGN of this projection and multi-probe ranks
    planes by its |margin| — both are discontinuous in the dot value, so a
    last-ulp difference between Spark's sequential array fold and DuckDB's
    unordered SUM could flip a bucket bit whenever a vector sits within ~1
    ulp of a hyperplane (r5 ADVICE). Quantizing each elementwise product to
    an integer BEFORE summation makes the addition exact and
    order-independent: both engines floor the identical double (x*p)*1e9
    (floor, not round — round's half-up vs half-even tie rules differ across
    engines) and sum exact BIGINTs, so sign and margin can never disagree.
    Max |term| ≈ 5·1e9 over 64 dims ≈ 3e11 — far inside int64."""
    return F.aggregate(
        F.zip_with(
            emb,
            F.array(*[F.lit(v) for v in plane]),
            lambda x, y: F.floor(x.cast("double") * y * F.lit(1e9)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def micro_dots_all(emb_col: str = "embedding"):
    """array<long> of ALL N_PLANES integer micro-dot projections in one
    expression: a single 12x64 literal plane matrix + one transform/fold,
    instead of 12 separate plane_micro_dot folds (each carrying its own
    64-double literal, and each typically referenced 2-3x by bucket/margin
    expressions). r11: the giant duplicated tree made Catalyst
    analysis/optimization the bottleneck for the ANN queries — measured
    sim_ann_multiprobe warm wall 4.3 s with <1 s of task time. Per-element
    arithmetic and fold order are IDENTICAL to plane_micro_dot, so every
    projection value is bit-equal."""
    from pyspark.sql import functions as F

    planes_lit = F.array(
        *[F.array(*[F.lit(v) for v in pv]) for pv in hyperplanes()]
    )
    return F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(
                F.col(emb_col),
                p,
                lambda x, y: F.floor(x.cast("double") * y * F.lit(1e9)).cast(
                    "long"
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def bucket_from_micro_dots(pd_col):
    """Sign-bit LSH bucket from a MATERIALIZED micro-dot array COLUMN:
    Σ (pd[i] > 0) << i. Pass a column reference (e.g. F.col("pd")), not the
    micro_dots_all expression itself — the 12 element_at terms would
    otherwise inline the fold 12x and re-grow the tree. Integer sum,
    bit-equal to the old per-plane when(...) chain."""
    from pyspark.sql import functions as F

    bucket = None
    for i in range(N_PLANES):
        bit = F.when(F.element_at(pd_col, i + 1) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return bucket


def planes_values_sql() -> str:
    """The seeded hyperplane matrix as a DuckDB VALUES literal — repr()
    emits shortest-roundtrip decimals, so DuckDB parses the exact same
    doubles Spark gets from F.lit()."""
    return ",\n        ".join(
        f"({p}, [{', '.join(repr(v) for v in pv)}]::DOUBLE[])"
        for p, pv in enumerate(hyperplanes())
    )


def ann_bucket_ctes() -> str:
    """Shared DuckDB CTE block replicating the hyperplane-LSH index build:
    per-vector plane projections (pd, integer micro-dots — see
    plane_micro_dot for why the sign test must not ride on a float SUM),
    sign-bit buckets (bits), L2 norms (norms). The bucket/margin chain is
    exact-integer in BOTH engines; only the cosine re-rank stays float,
    where ROUND(...,6) gives ~1e-10 headroom over the ulp-level fold-order
    divergence (documented residual, same posture as
    text_textrank_keywords)."""
    return f"""planes(p, pv) AS (VALUES {planes_values_sql()}),
    ex AS (SELECT vec_id, UNNEST(embedding) AS x,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings),
    pd AS (
        SELECT ex.vec_id, pl.p,
               SUM(CAST(FLOOR(CAST(ex.x AS DOUBLE) * pl.pv[ex.i] * 1e9)
                   AS BIGINT)) AS d
        FROM ex CROSS JOIN planes pl
        GROUP BY ex.vec_id, pl.p
    ),
    bits AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
                   AS bucket
        FROM pd GROUP BY vec_id
    ),
    norms AS (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM ex GROUP BY vec_id
    )"""


# Exploded query/corpus embeddings + norms + dots (qid < 20 query side).
ORACLE_DOT = """
    qe AS (SELECT vec_id AS qid, UNNEST(embedding) AS x,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings WHERE vec_id < 20),
    ae AS (SELECT vec_id AS nid, UNNEST(embedding) AS y,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings),
    norms AS (SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
              FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
              GROUP BY vec_id),
    dots AS (SELECT qid, nid, SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
             FROM qe JOIN ae USING (i)
             GROUP BY qid, nid)
"""

# Full oracle for brute-force cosine top-5 — shared by sim_cosine_topk and
# its Arrow-matmul twin sim_cosine_topk_pandas.
SIM_COSINE_TOPK_ORACLE = f"""
    WITH {ORACLE_DOT},
    cos AS (
        SELECT d.qid, d.nid,
               ROUND(d.dot / (nq.nrm * nn.nrm), 6) AS cosine
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.qid
        JOIN norms nn ON nn.vec_id = d.nid
        WHERE d.qid <> d.nid
    )
    SELECT qid, nid, cosine, rk FROM (
        SELECT qid, nid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk
        FROM cos) t
    WHERE rk <= 5
    """
