"""Wave-160: exact-replayable distributed sketches — KMV distinct
estimation, AMS F2 (join-size) estimation, and Bloom-filter membership
with a false-positive audit.

The built-in sketch aggregates (approx_count_distinct / count_min_sketch /
hll_sketch_agg) are rows-only checkable because their binary states are
engine-specific. These three rebuild the SAME sketch mathematics on an
md5-derived hash shared with DuckDB, so the sketch CONTENTS — not just
their accuracy bounds — are hash-exact against the oracle, while keeping
the properties that matter at 100 TB: single scan, constant state per
group, algebraic merge (min-set union / component sums / bit OR).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# shared 60-bit md5 digest (fits BIGINT in both engines; see llm/wave159)
_H60 = "CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT)"
_H60_DUCK = "CAST(CONCAT('0x', SUBSTR(MD5({col}), 1, 15)) AS BIGINT)"
_HSPACE = float(1 << 60)
_KMV_K = 64


@query(
    "agg_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               {_H60_DUCK.format(col="CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM h
    ),
    kth AS (
        SELECT event_type,
               MAX(CASE WHEN rk = {_KMV_K} THEN h END) AS kth_min,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM ranked WHERE rk <= {_KMV_K}
        GROUP BY event_type
    )
    SELECT event_type, n_kept, kth_min,
           CASE WHEN kth_min IS NULL THEN n_kept
                ELSE CAST(ROUND(({_KMV_K} - 1) * {_HSPACE} / kth_min)
                     AS BIGINT) END AS est_distinct
    FROM kth
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct estimator (Bar-Yossef et al. 2002,
    public): per group keep the K=64 smallest hash values of the key; the
    k-th minimum's position in the hash space estimates the distinct
    count as (K-1)·H/kth_min. The sketch is a 64-value min-set —
    mergeable by set-union-then-truncate, which is why per-partition /
    per-day KMVs combine into global ones without rescanning (same merge
    algebra as HLL, but with exactly replayable contents).

    Hash-exact (unlike agg_approx_distinct's HLL bytes): the hash is the
    shared md5-derived 60-bit digest, the min-set is deterministic, and
    the estimate is one integer division — both engines agree bit-for-bit
    on sketch AND estimate. Groups with < K distinct keys return the
    exact count (the sketch is lossless below K).

    Scale shape: one scan; the window's per-group state is K rows; at
    100 TB the per-partition top-K pushdown (WindowGroupLimit) keeps the
    shuffle at K rows per (group, partition)."""
    e = table(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        F.expr(_H60.format(col="CAST(user_id AS STRING)")).alias("h"),
    ).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("h")
    ranked = h.select("event_type", "h", F.row_number().over(w).alias("rk")).where(
        F.col("rk") <= _KMV_K
    )
    kth = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))).alias("kth_min"),
        F.count("*").cast("long").alias("n_kept"),
    )
    est = (
        F.when(F.col("kth_min").isNull(), F.col("n_kept"))
        .otherwise(
            F.round((_KMV_K - 1) * F.lit(_HSPACE) / F.col("kth_min")).cast("long")
        )
        .alias("est_distinct")
    )
    return kth.select("event_type", "n_kept", "kth_min", est)


_AMS_REPS = 16


@query(
    "agg_ams_f2",
    oracle=f"""
    WITH freq AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS f
        FROM events GROUP BY event_type, user_id
    ),
    signs AS (
        SELECT event_type, f, r,
               CASE WHEN ({_H60_DUCK.format(col="CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")}) % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM freq CROSS JOIN (SELECT UNNEST(RANGE({_AMS_REPS})) AS r)
    ),
    z AS (
        SELECT event_type, r, CAST(SUM(f * sgn) AS BIGINT) AS z
        FROM signs GROUP BY event_type, r
    ),
    est AS (
        SELECT event_type, CAST(ROUND(AVG(z * z)) AS BIGINT) AS f2_est
        FROM z GROUP BY event_type
    ),
    exact AS (
        SELECT event_type, CAST(SUM(f * f) AS BIGINT) AS f2_exact
        FROM freq GROUP BY event_type
    )
    SELECT e.event_type, x.f2_exact, e.f2_est
    FROM est e JOIN exact x ON x.event_type = e.event_type
    """,
)
def agg_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996,
    public): F2 = Σ f_i² is the self-join size — the quantity a query
    planner needs to cost a key's join fan-out. Each of 16 estimators
    keeps one counter Z = Σ f_i·s_i with s_i a ±1 hash of the key; E[Z²] =
    F2, and averaging replicates tightens the variance. Exact F2 is
    emitted alongside so the sketch's error is visible in the checked
    output.

    Hash-exact: the sign is the parity of the shared md5 digest of
    (replicate, key); Z and Z² are exact integers; the only rounding is
    the final AVG. Mergeable: Z sums across partitions — 16 longs of
    state per group.

    Scale shape: one groupBy for frequencies, a 16-way replicate fan-out
    of the (group, key) FREQUENCY table (not the events), then two
    map-side-combinable aggregations."""
    e = table(spark, sf_dir, "events")
    freq = e.groupBy("event_type", "user_id").agg(F.count("*").cast("long").alias("f"))
    reps = freq.crossJoin(
        F.broadcast(
            spark.range(_AMS_REPS).select(F.col("id").cast("int").alias("r"))
        )
    )
    sgn = F.when(
        F.expr(
            _H60.format(col="CAST(r AS STRING) || ':' || CAST(user_id AS STRING)")
        )
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    z = (
        reps.select("event_type", "r", (F.col("f") * sgn).alias("c"))
        .groupBy("event_type", "r")
        .agg(F.sum("c").cast("long").alias("z"))
    )
    est = z.groupBy("event_type").agg(
        F.round(F.avg(F.col("z") * F.col("z"))).cast("long").alias("f2_est")
    )
    exact = freq.groupBy("event_type").agg(
        F.sum(F.col("f") * F.col("f")).cast("long").alias("f2_exact")
    )
    return exact.join(est, "event_type").select("event_type", "f2_exact", "f2_est")


_BLOOM_BITS = 1024
_BLOOM_K = 4

# k=4 independent bit positions per key: seeded md5 digests mod the bitmap
# width — identical exact-integer chains in both engines.
_POS_SPARK = [
    "pmod(CAST(conv(substring(md5(concat('b%d:', k)), 1, 15), 16, 10) "
    "AS BIGINT), %d)" % (j, _BLOOM_BITS)
    for j in range(_BLOOM_K)
]
_POS_DUCK = [
    "(CAST(CONCAT('0x', SUBSTR(MD5('b%d:' || k), 1, 15)) AS BIGINT) %% %d)"
    % (j, _BLOOM_BITS)
    for j in range(_BLOOM_K)
]

_BLOOM_ORACLE = f"""
    WITH build AS (
        SELECT CAST(s_suppkey AS VARCHAR) AS k
        FROM supplier WHERE s_acctbal > 5000
    ),
    bits AS (
        SELECT DISTINCT bit FROM (
            {" UNION ALL ".join(f"SELECT ({p}) AS bit FROM build" for p in _POS_DUCK)}
        ) u
    ),
    probe AS (
        SELECT s_suppkey, CAST(s_suppkey AS VARCHAR) AS k,
               s_acctbal > 5000 AS actually_present
        FROM supplier
    ),
    pb AS (
        SELECT s_suppkey, actually_present, UNNEST([{", ".join(_POS_DUCK)}]) AS bit
        FROM probe
    ),
    m AS (
        SELECT p.s_suppkey, p.actually_present,
               CAST(COUNT(b.bit) AS BIGINT) AS nb
        FROM pb p LEFT JOIN bits b ON b.bit = p.bit
        GROUP BY p.s_suppkey, p.actually_present
    )
    SELECT s_suppkey, actually_present,
           nb = {_BLOOM_K} AS in_bloom,
           (nb = {_BLOOM_K} AND NOT actually_present) AS is_false_positive
    FROM m
    """


@query("agg_bloom_membership", oracle=_BLOOM_ORACLE)
def agg_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (Bloom 1970, public) with its false-positive
    audit in the checked output: the build side (suppliers with acctbal >
    5000) sets k=4 md5-derived bits in a 1024-bit filter; every supplier
    then probes it. Members are always in_bloom (no false negatives — the
    filter invariant); non-members occasionally collide on all 4 bits and
    surface as is_false_positive rows, so the filter's actual FP behavior
    on this data is part of the hash-checked result, not a pytest aside.

    Hash-exact (unlike the engine-internal bloom in join_bloom_runtime):
    bit positions are exact integer chains on the shared md5 digest, the
    bit SET is a distinct-union (the algebraic merge — per-partition
    filters OR together), and membership is a 4-way bit lookup.

    Scale shape: the bit set is at most 1024 rows (broadcast); probes
    join against it without shuffling the probe side; at 100 TB this is
    the semi-join prefilter pattern — ship the tiny filter, not the big
    table."""
    sup = table(spark, sf_dir, "supplier")
    build = (
        sup.where(F.col("s_acctbal") > 5000)
        .select(F.col("s_suppkey").cast("string").alias("k"))
    )
    bits = (
        build.select(
            F.explode(F.array(*[F.expr(p) for p in _POS_SPARK])).alias("bit")
        )
        .distinct()
    )
    probe = sup.select(
        "s_suppkey",
        F.col("s_suppkey").cast("string").alias("k"),
        (F.col("s_acctbal") > 5000).alias("actually_present"),
    )
    pb = probe.select(
        "s_suppkey",
        "actually_present",
        F.explode(F.array(*[F.expr(p) for p in _POS_SPARK])).alias("bit"),
    )
    m = (
        pb.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("s_suppkey", "actually_present")
        .agg(F.count("hit").cast("long").alias("nb"))
    )
    return m.select(
        "s_suppkey",
        "actually_present",
        (F.col("nb") == _BLOOM_K).alias("in_bloom"),
        ((F.col("nb") == _BLOOM_K) & ~F.col("actually_present")).alias(
            "is_false_positive"
        ),
    )
