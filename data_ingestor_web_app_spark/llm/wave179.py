"""Wave-179: Johnson-Lindenstrauss random-projection distortion audit,
LSH bucket load-balance audit, and 3-hop harmonic centrality.

The two vector queries extend the ANN toolkit's OPERATIONAL side: JL
projection is the standard dimensionality cut before any distance index
(Achlioptas-style +-1 signs — database-friendly, no Gaussians needed), and
the bucket-balance audit is the readout that tells you whether an LSH index
will have straggler partitions at 100 TB. Both ride the repo's
integer-quantization determinism pattern (floor to micro-units, BIGINT
algebra) so every number is hash-exact cross-engine.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm.vector_common import (
    hyperplanes,
    plane_micro_dot,
)
from data_ingestor_web_app_spark.registry import query

_D_IN = 64
_D_OUT = 16
# Achlioptas +-1 sign matrix, fixed seed; literal in both plans.
_SIGNS = [
    [int(v) for v in row]
    for row in np.random.default_rng(20260816).choice([-1, 1], (_D_OUT, _D_IN))
]
_SIGNS_VALUES = ",\n        ".join(
    f"({k}, [{', '.join(str(v) for v in row)}]::BIGINT[])"
    for k, row in enumerate(_SIGNS)
)


@query(
    "sim_random_projection_jl",
    oracle=f"""
    WITH signs(k, sv) AS (VALUES {_SIGNS_VALUES}),
    e AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS ei
        FROM embeddings
    ),
    ex AS (SELECT vec_id, UNNEST(ei) AS v, GENERATE_SUBSCRIPTS(ei, 1) AS i
           FROM e),
    proj AS (
        SELECT ex.vec_id, s.k, CAST(SUM(ex.v * s.sv[ex.i]) AS BIGINT) AS p
        FROM ex CROSS JOIN signs s GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ),
    dorig AS (
        SELECT p.id_a, p.id_b,
               CAST(SUM((xa.v - xb.v) * (xa.v - xb.v)) AS BIGINT) AS dist2_orig
        FROM pairs p
        JOIN ex xa ON xa.vec_id = p.id_a
        JOIN ex xb ON xb.vec_id = p.id_b AND xb.i = xa.i
        GROUP BY 1, 2
    ),
    dproj AS (
        SELECT p.id_a, p.id_b,
               CAST(SUM((pa.p - pb.p) * (pa.p - pb.p)) AS BIGINT) AS dist2_proj
        FROM pairs p
        JOIN proj pa ON pa.vec_id = p.id_a
        JOIN proj pb ON pb.vec_id = p.id_b AND pb.k = pa.k
        GROUP BY 1, 2
    )
    SELECT o.id_a, o.id_b, o.dist2_orig, j.dist2_proj,
           CAST(j.dist2_proj AS DOUBLE) / CAST({_D_OUT} * o.dist2_orig AS DOUBLE)
               AS distortion
    FROM dorig o JOIN dproj j ON j.id_a = o.id_a AND j.id_b = o.id_b
    WHERE o.dist2_orig > 0
    """,
)
def sim_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project the 64-d embeddings
    to 16-d with a fixed +-1 sign matrix (Achlioptas 2003 — the
    database-friendly JL construction: no Gaussians, just signed sums) and
    report, for every consecutive-id vector pair, the squared distance in
    the original vs projected space and the distortion ratio
    ||Px||^2 / (d_out * ||x||^2), whose concentration around 1.0 is the JL
    lemma. This is the audit you run before trusting a projected-space ANN
    index (sim_ann_lsh et al.) at 100 TB, where projecting first cuts both
    the shuffle bytes and the distance-compute cost ~4x.

    Determinism: components quantize to floor(x*1e6) BIGINTs first, so
    projections, squared distances, and their ratio are exact integer
    algebra in both engines (the plane_micro_dot pattern); the final
    divide is one IEEE op on identical operands — no rounding anywhere.

    Scale shape: the projection is a per-row map (zip_with fold, JVM
    codegen, no shuffle); pairing is an equi-join on vec_id+1 — at scale
    the audit pairs come from any co-partitioned sample, never a cross
    product."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
        ).alias("ei"),
    )
    zero = F.lit(0).cast("long")
    # r11: ONE 16x64 literal sign matrix + transform instead of 16 separate
    # folds each embedding its own 64-literal array — the duplicated tree
    # made Catalyst planning the query's dominant cost (warm wall ~4-7 s,
    # ~0.1 s of task time). Per-component arithmetic and fold order are
    # unchanged, so every projection value is bit-equal.
    signs_lit = F.array(
        *[
            F.array(*[F.lit(v).cast("long") for v in _SIGNS[k]])
            for k in range(_D_OUT)
        ]
    )
    proj = e.select(
        "vec_id",
        "ei",
        F.transform(
            signs_lit,
            lambda srow: F.aggregate(
                F.zip_with("ei", srow, lambda x, s: x * s),
                zero,
                lambda acc, x: acc + x,
            ),
        ).alias("pj"),
    )
    a = proj.select(
        F.col("vec_id").alias("id_a"),
        F.col("ei").alias("ei_a"),
        F.col("pj").alias("pj_a"),
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("ei").alias("ei_b"),
        F.col("pj").alias("pj_b"),
    )
    sq = lambda ca, cb: F.aggregate(  # noqa: E731
        F.zip_with(ca, cb, lambda x, y: (x - y) * (x - y)), zero, lambda s, x: s + x
    )
    return (
        a.join(b, "id_a")
        .select(
            "id_a",
            "id_b",
            sq("ei_a", "ei_b").alias("dist2_orig"),
            sq("pj_a", "pj_b").alias("dist2_proj"),
        )
        .where(F.col("dist2_orig") > 0)
        .withColumn(
            "distortion",
            F.col("dist2_proj").cast("double")
            / (F.lit(_D_OUT) * F.col("dist2_orig")).cast("double"),
        )
    )


_N_AUDIT_PLANES = 8  # 256-bucket index for the load audit


def _audit_planes_values() -> str:
    return ",\n        ".join(
        f"({p}, [{', '.join(repr(v) for v in pv)}]::DOUBLE[])"
        for p, pv in enumerate(hyperplanes()[:_N_AUDIT_PLANES])
    )


@query(
    "sim_bucket_balance_audit",
    oracle=f"""
    WITH planes(p, pv) AS (VALUES {_audit_planes_values()}),
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
    loads AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS load FROM bits
        GROUP BY bucket
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bits)
    SELECT l.load,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(l.load * COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(l.load * COUNT(*) * 1e0 / MIN(t.n), 6) AS share_of_vectors
    FROM loads l CROSS JOIN total t
    GROUP BY l.load
    """,
)
def sim_bucket_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket LOAD-BALANCE audit: hash every embedding into the 8-plane
    (256-bucket) hyperplane index and report the bucket-occupancy
    histogram — for each observed load, how many buckets carry it and what
    share of all vectors they hold. Skewed LSH buckets are the straggler
    tasks of a 100 TB ANN build (one hot bucket = one executor doing the
    candidate join alone), so this audit is the go/no-go check before
    committing to a plane set — pair it with sim_ann_lsh/multiprobe, which
    share the same seeded plane family.

    Determinism: bucket bits ride integer micro-dot signs (plane_micro_dot
    — fold-order ulps structurally cannot flip a bucket); loads and the
    histogram are exact counts; the share divides exact integers.

    Scale shape: one linear projection pass (JVM fold per plane, no
    Python), one groupBy(bucket) whose cardinality is 2^planes, one
    groupBy(load) over at most 2^planes rows — the audit costs one shuffle
    of bucket ids, nothing pairwise."""
    emb = table(spark, sf_dir, "embeddings")
    # r11: projections from the shared one-literal plane matrix
    # (micro_dots_all; first _N_AUDIT_PLANES entries are exactly the old
    # per-plane folds) — same planning-cost fix as sim_ann_lsh.
    from data_ingestor_web_app_spark.llm.vector_common import micro_dots_all

    pd_base = emb.select(micro_dots_all("embedding").alias("pd"))
    bucket = None
    for p in range(_N_AUDIT_PLANES):
        bit = F.when(F.element_at(F.col("pd"), p + 1) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    bits = pd_base.select(bucket.cast("long").alias("bucket"))
    total = bits.agg(F.count("*").cast("long").alias("n"))  # 1-row scalar attach
    loads = bits.groupBy("bucket").agg(F.count("*").cast("long").alias("load"))
    return (
        loads.crossJoin(total)
        .groupBy("load")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            (F.first("load") * F.count("*")).cast("long").alias("n_vecs"),
            F.round(
                F.first("load") * F.count("*") * F.lit(1.0) / F.first("n"), 6
            ).alias("share_of_vectors"),
        )
    )
