"""Wave-358: a last-writer-wins CRDT merge audit (Shapiro, Preguiça,
Baquero & Zawirski, INRIA RR-7506, 2011) and a Merkle tree over
order-independent bucket digests (Merkle, CRYPTO '87) — the
distributed-consistency shelf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_lww_crdt_merge",
    oracle="""
    WITH keyed AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) AS HUGEINT) * 100000000 + event_id AS k,
               event_id % 2 AS replica
        FROM events
    ),
    rep AS (
        SELECT replica, user_id,
               ARG_MAX(event_type, k) AS val, MAX(k) AS ts
        FROM keyed GROUP BY replica, user_id
    ),
    merged AS (
        SELECT user_id, ARG_MAX(val, ts) AS mval, MAX(ts) AS mts
        FROM rep GROUP BY user_id
    ),
    direct AS (
        SELECT user_id, ARG_MAX(event_type, k) AS dval, MAX(k) AS dts
        FROM keyed GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_registers,
           CAST(SUM(CASE WHEN m.mval = d.dval AND m.mts = d.dts
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converged,
           CAST(SUM(CASE WHEN m.mval <> d.dval OR m.mts <> d.dts
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_diverged
    FROM merged m JOIN direct d USING (user_id)
    """,
)
def pipeline_lww_crdt_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LWW-register CRDT merge audit (Shapiro et al. 2011 — the
    convergence theorem behind Dynamo/Riak/Cassandra conflict
    resolution): each user's 'register' holds their latest event type,
    timestamped by the packed epoch+id total order. Writes are split
    across two 'replicas' (even/odd event ids), each replica computes
    its local LWW state, the replicas MERGE by max-timestamp — and the
    audit proves merge(replica states) == the direct global LWW for
    every register (n_diverged = 0, pinned in pytest): the
    commutative-associative-idempotent join semilattice doing its job.

    Determinism: the packed key is a total order, so every arg_max is
    unique; all counts are exact integers.

    Scale shape: two groupBy passes (replica-local then merge) vs one
    direct pass — exactly the distributed merge topology; all
    partial-agg shapes, no window."""
    keyed = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (
            F.expr("unix_micros(ts)").cast("decimal(38,0)") * 100000000
            + F.col("event_id")
        ).alias("k"),
        (F.col("event_id") % 2).alias("replica"),
    )
    rep = keyed.groupBy("replica", "user_id").agg(
        F.expr("max_by(event_type, k)").alias("val"),
        F.max("k").alias("ts"),
    )
    merged = rep.groupBy("user_id").agg(
        F.expr("max_by(val, ts)").alias("mval"),
        F.max("ts").alias("mts"),
    )
    direct = keyed.groupBy("user_id").agg(
        F.expr("max_by(event_type, k)").alias("dval"),
        F.max("k").alias("dts"),
    )
    j = merged.join(direct, "user_id")
    same = (F.col("mval") == F.col("dval")) & (F.col("mts") == F.col("dts"))
    return j.agg(
        F.count("*").cast("long").alias("n_registers"),
        F.sum(F.when(same, 1).otherwise(0)).cast("long").alias("n_converged"),
        F.sum(F.when(~same, 1).otherwise(0)).cast("long").alias("n_diverged"),
    )


# 32 leaves -> 5 unrolled levels; digests combine with the exact
# integer chain h = (31*l + r) mod 2^61-1 (a Mersenne-prime modular
# hash — identical arithmetic both engines).
_MOD = (1 << 61) - 1


def _merkle_sql() -> str:
    parts = [
        f"""
    leaves0 AS (
        SELECT CAST(o_orderkey % 32 AS BIGINT) AS b,
               CAST(SUM(CAST((o_orderkey * 2654435761
                         + CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        % {_MOD} AS HUGEINT)) % {_MOD} AS BIGINT) AS h
        FROM orders GROUP BY o_orderkey % 32
    ),
    leaves AS (
        -- seed ALL 32 leaves (empty bucket digest := 0) so the pairwise
        -- combine levels are total regardless of key distribution
        -- (ADVICE r8 #1: dbgen-sparse keys must not collapse the tree)
        SELECT CAST(s.range AS BIGINT) AS b,
               CAST(COALESCE(l.h, 0) AS BIGINT) AS h
        FROM range(32) s LEFT JOIN leaves0 l ON l.b = s.range
    )"""
    ]
    width = 32
    prev = "leaves"
    for lvl in range(1, 6):
        width //= 2
        parts.append(
            f"""
    l{lvl} AS (
        SELECT CAST(a.b // 2 AS BIGINT) AS b,
               CAST((CAST(a.h AS HUGEINT) * 31 % {_MOD} + b2.h)
                    % {_MOD} AS BIGINT) AS h
        FROM {prev} a JOIN {prev} b2
          ON b2.b = a.b + 1 AND a.b % 2 = 0
    )"""
        )
        prev = f"l{lvl}"
    return ",".join(parts)


@query(
    "maintenance_merkle_tree",
    oracle=f"""
    WITH {_merkle_sql()}
    SELECT CAST(32 AS BIGINT) AS n_leaves,
           CAST(5 AS BIGINT) AS depth,
           (SELECT h FROM l5) AS root_digest,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM leaves0) AS n_nonempty,
           (SELECT CAST(MIN(h) AS BIGINT) FROM leaves0) AS min_leaf_digest,
           (SELECT CAST(MAX(h) AS BIGINT) FROM leaves0) AS max_leaf_digest
    """,
)
def maintenance_merkle_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Merkle tree (CRYPTO '87 — the anti-entropy structure behind
    Dynamo/Cassandra repair and every blockchain) over the order book:
    32 key-bucketed leaves whose digests are ORDER-INDEPENDENT modular
    sums (so partition order can't change them — the property a
    distributed digest needs), then 5 unrolled combine levels with the
    Mersenne-61 chain h = 31·l + r mod 2⁶¹−1. Two replicas comparing
    root_digest detect divergence in O(1); walking down the tree
    localizes it to a leaf bucket in depth steps.

    Determinism: pure integer modular arithmetic end-to-end; the leaf
    sum is associative-exact, so shuffles and engines agree
    bit-for-bit.

    Scale shape: one bucket groupBy with map-side partials, then
    log₂(32) dimension-sized combine joins. All 32 leaves are seeded
    explicitly (empty bucket ⇒ digest 0) so the tree is TOTAL under any
    key distribution — on dbgen-sparse keys (o_orderkey%32 confined to a
    few residues) an unseeded tree's combine joins would collapse to zero
    rows while the oracle kept a NULL root (ADVICE r8 #1)."""
    leaves0 = (
        table(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") % 32).cast("long").alias("b"),
            (
                (
                    F.col("o_orderkey") * 2654435761
                    + F.round(F.col("o_totalprice") * 100).cast("long")
                )
                % _MOD
            ).alias("t"),
        )
        .groupBy("b")
        .agg(
            (F.sum(F.col("t").cast("decimal(38,0)")) % _MOD)
            .cast("long")
            .alias("h")
        )
    )
    seed = spark.range(32).select(F.col("id").alias("b"))
    leaves = seed.join(F.broadcast(leaves0), "b", "left").select(
        "b", F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("h")
    )
    cur = leaves
    for _ in range(5):
        a = cur.select(F.col("b").alias("ab"), F.col("h").alias("ah"))
        b2 = cur.select(F.col("b").alias("bb"), F.col("h").alias("bh"))
        cur = (
            a.join(
                b2,
                (F.col("bb") == F.col("ab") + 1) & (F.col("ab") % 2 == 0),
            )
            .select(
                (F.col("ab") / 2).cast("long").alias("b"),
                (
                    (
                        F.col("ah").cast("decimal(38,0)") * 31 % _MOD
                        + F.col("bh")
                    )
                    % _MOD
                ).cast("long").alias("h"),
            )
        )
    stats = leaves0.agg(
        F.count("*").cast("long").alias("n_nonempty"),
        F.min("h").cast("long").alias("min_leaf_digest"),
        F.max("h").cast("long").alias("max_leaf_digest"),
    )
    root = cur.select(F.col("h").alias("root_digest"))
    return (
        root.crossJoin(F.broadcast(stats))
        .select(
            F.lit(32).cast("long").alias("n_leaves"),
            F.lit(5).cast("long").alias("depth"),
            "root_digest",
            "n_nonempty",
            "min_leaf_digest",
            "max_leaf_digest",
        )
    )
