"""Wave-351: Che's LRU characteristic-time approximation (Che, Tung &
Wang, IEEE JSAC 2002) solved by unrolled Newton steps, and
majority-quorum availability from per-replica uptimes (the classic
binomial reliability model, Gifford 1979 lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_CACHE = 20.0  # cache capacity in objects
_STEPS = 10  # unrolled Newton iterations
_T0 = 100.0  # deterministic starting characteristic time (seconds)


def _che_sql() -> str:
    parts = [
        f"""
    obj AS MATERIALIZED (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, user_id
    ),
    span AS MATERIALIZED (
        SELECT CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE) / 1e6
                   AS horizon
        FROM events
    ),
    lam AS MATERIALIZED (
        SELECT o.event_type, o.user_id, o.c / s.horizon AS l
        FROM obj o CROSS JOIN span s
    ),
    t0 AS (SELECT CAST({_T0} AS DOUBLE) AS t)"""
    ]
    for i in range(1, _STEPS + 1):
        parts.append(
            f"""
    t{i} AS (
        SELECT t - (SUM(1.0 - EXP(-l * t)) - {_CACHE})
                   / SUM(l * EXP(-l * t)) AS t
        FROM lam CROSS JOIN t{i - 1}
        GROUP BY t
    )"""
        )
    return ",".join(parts)


@query(
    "events_che_lru_hit",
    oracle=f"""
    WITH {_che_sql()}
    SELECT CAST((SELECT COUNT(*) FROM obj) AS BIGINT) AS n_objects,
           {_CACHE} AS cache_size,
           ROUND((SELECT t FROM t{_STEPS}), 6) AS t_char,
           ROUND((SELECT SUM(1.0 - EXP(-l * t)) FROM lam, t{_STEPS})
                 - {_CACHE}, 6) AS occupancy_residual,
           ROUND((SELECT SUM(l * (1.0 - EXP(-l * t))) FROM lam, t{_STEPS})
                 / (SELECT SUM(l) FROM lam), 6) AS overall_hit_ratio
    """,
)
def events_che_lru_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Che's approximation for LRU hit ratios (IEEE JSAC 2002 — the
    closed-form CDN-sizing workhorse): each (event_type, user) object
    requests at rate λ_i; the characteristic time T solves
    Σ(1 − e^{{−λT}}) = C and each object's hit ratio is 1 − e^{{−λT}}.
    T comes from {_STEPS} UNROLLED Newton steps on the occupancy
    equation (g is monotone, so the iteration is globally convergent
    from the fixed T₀ = {_T0}); occupancy_residual audits convergence
    and the overall ratio is the request-weighted mean — the number a
    cache-sizing review actually wants.

    Determinism: rates are exact-count / shared-horizon ratios; every
    Newton step is the identical EXP chain over the bounded object
    frame; rounded 6dp.

    Scale shape: one (type,user) aggregate, then {_STEPS} chained
    partial-agg sums over the object frame (cached once) — each step
    is a map-side-combinable aggregate, no window, no pairs."""
    # r11 (guide §2.4 + wave124 idiom): ONE keyed events pass now carries
    # the per-group count AND the per-group unix_micros(min/max ts), so the
    # global horizon is an aggregate over the checkpointed object frame
    # (max of group maxes == global max) instead of a second corpus scan;
    # lam's cache() deduped execution but every one of its 11 references
    # (10 Newton steps + the final readout) still re-expanded the logical
    # subtree through Catalyst — the checkpoint makes it a leaf. All values
    # are the identical integers/doubles.
    obj = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.expr("unix_micros(min(ts))").alias("mn"),
            F.expr("unix_micros(max(ts))").alias("mx"),
        )
        .localCheckpoint(eager=True)
    )
    span = obj.agg(
        ((F.max("mx") - F.min("mn")).cast("double") / 1e6).alias("horizon")
    )
    lam = (
        obj.crossJoin(F.broadcast(span))
        .select((F.col("c") / F.col("horizon")).alias("l"))
        .localCheckpoint(eager=True)
    )
    t = span.select(F.lit(_T0).cast("double").alias("t")).select("t")
    for _ in range(_STEPS):
        t = (
            lam.crossJoin(F.broadcast(t))
            .groupBy("t")
            .agg(
                F.sum(1.0 - F.exp(-F.col("l") * F.col("t"))).alias("g"),
                F.sum(F.col("l") * F.exp(-F.col("l") * F.col("t"))).alias(
                    "gp"
                ),
            )
            .select(
                (
                    F.col("t") - (F.col("g") - _CACHE) / F.col("gp")
                ).alias("t")
            )
        )
    nobj = obj.agg(F.count("*").cast("long").alias("n_objects"))
    final = (
        lam.crossJoin(F.broadcast(t))
        .agg(
            F.sum(1.0 - F.exp(-F.col("l") * F.col("t"))).alias("occ"),
            F.sum(
                F.col("l") * (1.0 - F.exp(-F.col("l") * F.col("t")))
            ).alias("whit"),
            F.sum("l").alias("ltot"),
            F.max("t").alias("t"),
        )
    )
    return (
        nobj.crossJoin(F.broadcast(final))
        .select(
            "n_objects",
            F.lit(_CACHE).alias("cache_size"),
            F.round(F.col("t"), 6).alias("t_char"),
            F.round(F.col("occ") - _CACHE, 6).alias("occupancy_residual"),
            F.round(F.col("whit") / F.col("ltot"), 6).alias(
                "overall_hit_ratio"
            ),
        )
    )


@query(
    "pipeline_quorum_availability",
    oracle="""
    WITH hours AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS h
        FROM events GROUP BY 1, 2
    ),
    up AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) / (30.0 * 24.0) AS p
        FROM hours GROUP BY event_type
    )
    SELECT event_type,
           ROUND(p, 6) AS replica_uptime,
           ROUND(p * p * p + 3.0 * p * p * (1.0 - p), 6) AS quorum3,
           ROUND(p * p * p * p * p
                 + 5.0 * p * p * p * p * (1.0 - p)
                 + 10.0 * p * p * p * (1.0 - p) * (1.0 - p), 6)
               AS quorum5,
           (p * p * p * p * p
            + 5.0 * p * p * p * p * (1.0 - p)
            + 10.0 * p * p * p * (1.0 - p) * (1.0 - p))
           > (p * p * p + 3.0 * p * p * (1.0 - p)) AS five_beats_three
    FROM up ORDER BY event_type
    """,
)
def pipeline_quorum_availability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Majority-quorum availability (Gifford's weighted voting, SOSP
    1979, under the standard independent-replica binomial model): each
    event type's hourly activity fraction is its 'replica uptime' p,
    and the closed binomial sums give the probability a majority is up
    for n = 3 (p³ + 3p²q) and n = 5 (p⁵ + 5p⁴q + 10p³q²). The
    five_beats_three flag demonstrates the classic threshold: more
    replicas only help when p > 1/2.

    Determinism: p is an exact hour-count ratio over the literal
    30·24 grid; the binomials are fixed chains rounded 6dp; the flag
    compares identical unrounded doubles.

    Scale shape: one (type,hour) dedup aggregate + a per-type
    projection — linear, no window."""
    hours = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.lit(1).alias("one"))
    )
    up = hours.groupBy("event_type").agg(
        (F.count("*").cast("double") / (30.0 * 24.0)).alias("p")
    )
    p = F.col("p")
    q = 1.0 - p
    q3 = p * p * p + 3.0 * p * p * q
    q5 = (
        p * p * p * p * p
        + 5.0 * p * p * p * p * q
        + 10.0 * p * p * p * q * q
    )
    return up.select(
        "event_type",
        F.round(p, 6).alias("replica_uptime"),
        F.round(q3, 6).alias("quorum3"),
        F.round(q5, 6).alias("quorum5"),
        (q5 > q3).alias("five_beats_three"),
    ).orderBy("event_type")
