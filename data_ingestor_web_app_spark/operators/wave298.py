"""Wave-298: Bowker's symmetry test on per-user first->last event-type
transitions and the Tsallis q-entropy ladder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# chi-square 95% quantiles for df 1..10 (the transition matrix has at most
# C(5,2)=10 off-diagonal pairs on this schema) — identical literal ladder in
# both engines.
_CHI2_95 = {
    1: 3.841459, 2: 5.991465, 3: 7.814728, 4: 9.487729, 5: 11.070498,
    6: 12.591587, 7: 14.06714, 8: 15.507313, 9: 16.918978, 10: 18.307038,
}


def _chi2_case_sql(var: str) -> str:
    whens = " ".join(f"WHEN {df} THEN {q}" for df, q in _CHI2_95.items())
    return f"CASE {var} {whens} ELSE 1e18 END"


@query(
    "agg_bowker_symmetry",
    oracle=f"""
    WITH keyed AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) AS HUGEINT) * 100000000 + event_id AS k
        FROM events
    ),
    fl AS (
        SELECT user_id,
               ARG_MIN(event_type, k) AS f,
               ARG_MAX(event_type, k) AS l
        FROM keyed GROUP BY user_id
    ),
    m AS (
        SELECT f, l, CAST(COUNT(*) AS BIGINT) AS c FROM fl GROUP BY f, l
    ),
    pairs AS (
        SELECT COALESCE(a.f, b.l) AS f, COALESCE(a.l, b.f) AS l,
               COALESCE(a.c, 0) AS n_fl, COALESCE(b.c, 0) AS n_lf
        FROM (SELECT * FROM m WHERE f < l) a
        FULL JOIN (SELECT * FROM m WHERE f > l) b
          ON a.f = b.l AND a.l = b.f
    ),
    stat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS df,
               SUM(CAST((n_fl - n_lf) AS DOUBLE) * (n_fl - n_lf)
                   / (n_fl + n_lf)) AS chi2
        FROM pairs WHERE n_fl + n_lf > 0
    )
    SELECT df, ROUND(chi2, 6) AS bowker_chi2,
           ROUND({_chi2_case_sql("df")}, 6) AS crit_95,
           chi2 > {_chi2_case_sql("df")} AS asymmetric_flow
    FROM stat
    """,
)
def agg_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker's test of symmetry (Bowker, JASA 1948, public — the k×k
    generalization of McNemar): over the per-user (first event type ->
    last event type) transition matrix, chi² = Σ_{i<j} (n_ij - n_ji)²
    / (n_ij + n_ji) with df = #{unordered pairs with traffic} — is the
    behavioral flow u->v as common as v->u, or does the population
    drift directionally (e.g. view->purchase >> purchase->view)? The
    registry's McNemar row answers this for one 2×2; Bowker covers the
    whole type alphabet at once.

    Determinism: first/last are ARG_MIN/ARG_MAX over the packed total
    order epoch_micros·10^8 + event_id (exact HUGEINT/decimal(38,0) —
    fixture ids < 10^8; a wider corpus packs into decimal(38,0) the
    same way); pair counts are integers; one guarded ratio per pair;
    the flag reads a literal chi² ladder identical in both engines.

    Scale shape: per-user min_by/max_by partial aggs (one shuffle on
    user_id), then a <=k² transition matrix self-joined on itself —
    the heavy lifting never leaves the keyed aggregate."""
    keyed = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (
            F.expr("unix_micros(ts)").cast("decimal(38,0)") * 100000000
            + F.col("event_id")
        ).alias("k"),
    )
    fl = keyed.groupBy("user_id").agg(
        F.expr("min_by(event_type, k)").alias("f"),
        F.expr("max_by(event_type, k)").alias("l"),
    )
    m = fl.groupBy("f", "l").agg(F.count("*").cast("long").alias("c"))
    a = m.where(F.col("f") < F.col("l"))
    b = m.where(F.col("f") > F.col("l")).select(
        F.col("l").alias("bf"), F.col("f").alias("bl"), F.col("c").alias("rc")
    )
    pairs = a.join(
        b, (F.col("f") == F.col("bf")) & (F.col("l") == F.col("bl")), "full"
    ).select(
        F.coalesce(F.col("c"), F.lit(0)).alias("n_fl"),
        F.coalesce(F.col("rc"), F.lit(0)).alias("n_lf"),
    )
    stat = pairs.where(F.col("n_fl") + F.col("n_lf") > 0).agg(
        F.count("*").cast("long").alias("df"),
        F.sum(
            (F.col("n_fl") - F.col("n_lf")).cast("double")
            * (F.col("n_fl") - F.col("n_lf"))
            / (F.col("n_fl") + F.col("n_lf"))
        ).alias("chi2"),
    )
    crit = F.coalesce(
        *[F.when(F.col("df") == df, F.lit(q)) for df, q in _CHI2_95.items()],
        F.lit(1e18),
    )
    return stat.select(
        "df",
        F.round("chi2", 6).alias("bowker_chi2"),
        F.round(crit, 6).alias("crit_95"),
        (F.col("chi2") > crit).alias("asymmetric_flow"),
    )


@query(
    "agg_tsallis_entropy",
    oracle="""
    WITH cnt AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
    p AS (SELECT CAST(c AS DOUBLE) / n AS p, n FROM cnt CROSS JOIN tot)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(MAX(n) AS BIGINT) AS n_events,
           ROUND(2.0 * (SUM(SQRT(p)) - 1), 6) AS tsallis_half,
           ROUND(1.0 - SUM(p * p), 6) AS tsallis_2,
           ROUND((1.0 - SUM(p * p * p)) / 2, 6) AS tsallis_3,
           ROUND(-SUM(p * LN(p)), 6) AS shannon_nats
    FROM p
    """,
)
def agg_tsallis_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tsallis q-entropy ladder (Tsallis, J. Stat. Phys. 1988, public)
    of the event-type distribution: S_q = (1 - Σp^q)/(q - 1) at
    q = 1/2, 2, 3, with the q->1 Shannon limit alongside. S_2 is the
    Gini-Simpson index and S_3 weights the head harder, while q = 1/2
    amplifies the TAIL — the one-parameter family that interpolates
    between 'how many types exist' (q->0 gives richness-1) and 'how
    dominant is the top type' (q->inf), the non-extensive
    generalization the Renyi rows approach multiplicatively and this
    approaches additively.

    Determinism: counts are exact integers; the sums run over <=|type
    alphabet| terms (5 here); ROUND 6.

    Scale shape: one partial-agg groupBy; everything after is a
    dimension-sized frame."""
    cnt = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("n"))
    p = cnt.crossJoin(F.broadcast(tot)).select(
        (F.col("c").cast("double") / F.col("n")).alias("p"), "n"
    )
    return p.agg(
        F.count("*").cast("long").alias("n_types"),
        F.max("n").cast("long").alias("n_events"),
        F.round(2.0 * (F.sum(F.sqrt("p")) - 1), 6).alias("tsallis_half"),
        F.round(1.0 - F.sum(F.col("p") * F.col("p")), 6).alias("tsallis_2"),
        F.round((1.0 - F.sum(F.col("p") * F.col("p") * F.col("p"))) / 2, 6).alias(
            "tsallis_3"
        ),
        F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("shannon_nats"),
    )
