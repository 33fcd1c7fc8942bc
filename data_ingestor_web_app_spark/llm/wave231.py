"""Wave-231: Walsh-Hadamard spectral energy with an exact integer
Parseval certificate, AP-weighted rank correlation (tau_AP) in exact
rational arithmetic, and a dense-key sequence gap audit.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

@query(
    "sim_hadamard_energy",
    oracle="""
    WITH q AS (
        SELECT vec_id, label, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS j
        FROM embeddings
    ),
    xq AS (
        SELECT vec_id, label, j, CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS v FROM q
    ),
    coef AS (
        SELECT x.vec_id, x.label, k.range AS k,
               CAST(SUM(x.v * (1 - 2 * (bit_count(k.range & x.j) % 2)))
                    AS BIGINT) AS c
        FROM xq x CROSS JOIN RANGE(64) k
        GROUP BY x.vec_id, x.label, k.range
    ),
    per_vec AS (
        SELECT vec_id, label,
               CAST(SUM(c * c) AS BIGINT) AS spec_energy,
               CAST(SUM(CASE WHEN k < 16 THEN c * c ELSE 0 END) AS BIGINT)
                   AS low_energy
        FROM coef GROUP BY vec_id, label
    ),
    direct AS (
        SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS e_total
        FROM xq GROUP BY vec_id
    )
    SELECT p.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d.e_total) AS BIGINT) AS sum_energy,
           CAST(SUM(p.low_energy) AS BIGINT) AS sum_low_energy,
           ROUND(SUM(p.low_energy) * 1e0 / SUM(p.spec_energy), 6)
               AS low_band_ratio,
           BOOL_AND(p.spec_energy = 64 * d.e_total) AS parseval_ok
    FROM per_vec p JOIN direct d ON d.vec_id = p.vec_id
    GROUP BY p.label
    """,
)
def sim_hadamard_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walsh-Hadamard spectrum of every embedding with an EXACT integer
    Parseval proof: quantize x to round(x*1000), take all 64 WHT
    coefficients c_k = sum_j (-1)^popcount(k AND j) * x_j (the Hadamard
    sign matrix needs NO literals — it IS the bit_count parity), and
    report per label the fraction of spectral energy landing in the first
    16 coefficients — the energy-compaction number that decides whether a
    transform-domain index (coarse WHT prefilter before exact rerank) is
    worth building for this corpus.

    Proof column: the Hadamard matrix is orthogonal with H H^T = 64 I, so
    sum_k c_k^2 = 64 * sum_j x_j^2 must hold EXACTLY in integers for
    every vector — parseval_ok certifies the whole transform end-to-end
    in both engines (the certified-identity pattern of sim_mmd_poly).

    Scale shape: per-row O(d^2) integer multiply-adds against a
    formula-generated sign (JVM codegen, no shuffle, no literal tables);
    a production FWHT does O(d log d) per row but identical output — this
    is the semantics reference. Aggregation is one map-side-combinable
    groupBy(label)."""
    e = table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("xq"),
    )
    coef_expr = (
        "transform(sequence(0, 63), k -> "
        "  aggregate(zip_with(xq, sequence(0, 63), "
        "    (x, j) -> x * (1 - 2 * pmod(bit_count(k & j), 2))), "
        "    0L, (acc, v) -> acc + v))"
    )
    per_vec = base.select(
        "vec_id",
        "label",
        F.expr(
            f"aggregate({coef_expr}, 0L, (acc, c) -> acc + c * c)"
        ).alias("spec_energy"),
        F.expr(
            f"aggregate(slice({coef_expr}, 1, 16), 0L, (acc, c) -> acc + c * c)"
        ).alias("low_energy"),
        F.expr("aggregate(xq, 0L, (acc, v) -> acc + v * v)").alias("e_total"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("e_total").cast("long").alias("sum_energy"),
        F.sum("low_energy").cast("long").alias("sum_low_energy"),
        F.round(F.sum("low_energy") / F.sum("spec_energy").cast("double"), 6).alias(
            "low_band_ratio"
        ),
        F.every(F.col("spec_energy") == 64 * F.col("e_total")).alias(
            "parseval_ok"
        ),
    )


_TAU_N = 30
# lcm(1..29): (2520 / i) generalization — the exact-rational device: scale
# every 1/(i-1) term by L so the accumulating sum stays integer
_TAU_L = int(np.lcm.reduce(np.arange(1, _TAU_N)))


@query(
    "model_tau_ap",
    oracle=f"""
    WITH prefix AS (
        SELECT p_partkey, p_retailprice, p_size FROM part
        ORDER BY p_partkey LIMIT {_TAU_N}
    ),
    items AS (
        SELECT p_partkey,
               ROW_NUMBER() OVER (ORDER BY p_retailprice DESC, p_partkey)
                   AS s_rank,
               ROW_NUMBER() OVER (ORDER BY p_size DESC, p_partkey) AS t_rank
        FROM prefix
    ),
    conc AS (
        SELECT i.s_rank AS pos,
               CAST(SUM(CASE WHEN j.t_rank < i.t_rank THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_i
        FROM items i JOIN items j ON j.s_rank < i.s_rank
        GROUP BY i.s_rank
    )
    SELECT CAST({_TAU_N} AS BIGINT) AS n_items,
           CAST(SUM(c_i * ({_TAU_L} // (pos - 1))) AS BIGINT) AS tau_scaled,
           ROUND(2.0 * SUM(c_i * ({_TAU_L} // (pos - 1)))
                 / (CAST({_TAU_N - 1} AS DOUBLE) * {_TAU_L}) - 1, 6) AS tau_ap
    FROM conc
    """,
)
def model_tau_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AP-weighted rank correlation tau_AP (Yilmaz, Aslam & Robertson,
    SIGIR 2008, public): unlike Kendall's tau, discordance near the TOP of
    the system ranking is penalized more — the metric retrieval teams use
    to compare rankers where the head matters. System ranking = parts by
    retail price; truth ranking = by size (both with key tie-breaks);
    tau_AP = (2/(N-1)) * sum_{i=2..N} C(i)/(i-1) - 1, with C(i) = how many
    of the i-1 items ranked above position i are truly above it.

    Exactness device: each 1/(i-1) is scaled by L = lcm(1..N-1) so
    C(i) * (L/(i-1)) is a plain integer; the reported tau divides two
    identical integers in both engines (the model_err_retrieval discipline
    applied to a rank statistic). The bounded pairwise join is N^2 = 900
    rows — rank-head metrics are always computed on bounded prefixes.

    Scale shape: two window ranks over a pruned scan + a bounded
    self-join; at fleet scale this runs per (query, ranker) pair with the
    same bounded N."""
    p = (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
        .limit(_TAU_N)
    )
    items = p.select(
        "p_partkey",
        F.row_number()
        .over(Window.orderBy(F.col("p_retailprice").desc(), "p_partkey"))
        .alias("s_rank"),
        F.row_number()
        .over(Window.orderBy(F.col("p_size").desc(), "p_partkey"))
        .alias("t_rank"),
    )
    i, j = items.alias("i"), items.alias("j")
    conc = (
        i.join(j, F.col("j.s_rank") < F.col("i.s_rank"))
        .groupBy(F.col("i.s_rank").alias("pos"))
        .agg(
            F.sum(
                F.when(F.col("j.t_rank") < F.col("i.t_rank"), 1).otherwise(0)
            ).alias("c_i")
        )
    )
    scaled = F.sum(F.col("c_i") * (F.lit(_TAU_L) / (F.col("pos") - 1)).cast("long"))
    return conc.agg(
        F.lit(_TAU_N).cast("long").alias("n_items"),
        scaled.cast("long").alias("tau_scaled"),
        F.round(
            2.0 * scaled / (float(_TAU_N - 1) * _TAU_L) - 1, 6
        ).alias("tau_ap"),
    )


@query(
    "dq_sequence_gap_audit",
    oracle="""
    WITH seq AS (
        SELECT o_orderstatus, o_orderkey,
               o_orderkey - LAG(o_orderkey) OVER (
                   PARTITION BY o_orderstatus ORDER BY o_orderkey) AS delta
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(COUNT(*) AS BIGINT) AS n_present,
           CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1 - COUNT(*) AS BIGINT)
               AS n_missing,
           CAST(SUM(CASE WHEN delta > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gap_runs,
           CAST(COALESCE(MAX(CASE WHEN delta > 1 THEN delta - 1 END), 0)
                AS BIGINT) AS largest_gap
    FROM seq GROUP BY o_orderstatus
    """,
)
def dq_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-key gap audit — the data-quality check every CDC/ingest
    pipeline runs on a key that SHOULD be gapless per stream: per order
    status, the key span, how many keys are missing from the span, how
    many distinct gap runs there are, and the widest hole. A sudden jump
    in n_gap_runs is the canonical dropped-batch symptom.

    Scale shape: one partitioned window on the audit key's natural sort
    (gaps-and-islands via LAG), then a map-side-combinable aggregate —
    the same shape the partitioned sequence would be scanned in anyway."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
    delta = F.col("o_orderkey") - F.lag("o_orderkey").over(w)
    return (
        o.select("o_orderstatus", "o_orderkey", delta.alias("delta"))
        .groupBy("o_orderstatus")
        .agg(
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
            F.count("*").cast("long").alias("n_present"),
            (F.max("o_orderkey") - F.min("o_orderkey") + 1 - F.count("*"))
            .cast("long")
            .alias("n_missing"),
            F.sum(F.when(F.col("delta") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_gap_runs"),
            F.coalesce(
                F.max(F.when(F.col("delta") > 1, F.col("delta") - 1)), F.lit(0)
            )
            .cast("long")
            .alias("largest_gap"),
        )
    )
