"""Wave-178: exact-replayable count-min sketch, Croston intermittent-demand
forecasting, and the near-dup family-size distribution.

``agg_countmin_exact`` promotes the count-min family to hash-exact the same
way wave-159 promoted MinHash-LSH: the built-in ``count_min_sketch`` stays
(its JVM sketch bytes are engine-specific, rows-only by nature) and this
twin replays the identical d x w counter algebra with a Carter-Wegman
mod-(2^61-1) hash family over md5 60-bit digests — pure integer arithmetic
both engines, every counter and every estimate bit-identical.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm import vector_extra  # noqa: F401  registers dedup_clusters
from data_ingestor_web_app_spark.registry import ORACLES, query

# Carter-Wegman family, same construction as llm/wave159.py (md5 exists in
# both engines; 60-bit x keeps a*x under DECIMAL(38)/HUGEINT range).
_P = (1 << 61) - 1
_D = 4  # sketch depth (hash rows)
_W = 64  # sketch width (buckets per row)
_rng = np.random.default_rng(20260815)
_A = [int(v) for v in _rng.integers(1, _P, _D)]
_B = [int(v) for v in _rng.integers(0, _P, _D)]

_SEEDS = ",\n        ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(zip(_A, _B))
)

# x = top 60 bits of md5(user_id) — identical in Spark (conv/hex) and DuckDB.
_X_SPARK = (
    "CAST(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10)"
    " AS DECIMAL(38, 0))"
)


def _bucket_spark(j: int) -> str:
    return (
        f"CAST(pmod(CAST({_A[j]} AS DECIMAL(38, 0)) * x + {_B[j]}, {_P})"
        f" AS BIGINT) % {_W}"
    )


@query(
    "agg_countmin_exact",
    oracle=f"""
    WITH seeds(j, a, b) AS (VALUES {_SEEDS}),
    x AS (
        SELECT user_id,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS x
        FROM events
    ),
    cells AS (
        SELECT s.j,
               CAST((CAST(s.a AS HUGEINT) * x.x + s.b) % {_P} AS BIGINT)
                   % {_W} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM x CROSS JOIN seeds s
        GROUP BY 1, 2
    ),
    ux AS (
        SELECT user_id, MIN(x) AS x, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM x GROUP BY user_id
    ),
    est AS (
        SELECT u.user_id, u.n_exact, MIN(c.cnt) AS n_est
        FROM ux u
        CROSS JOIN seeds s
        JOIN cells c
          ON c.j = s.j
         AND c.bucket = CAST((CAST(s.a AS HUGEINT) * u.x + s.b) % {_P}
                             AS BIGINT) % {_W}
        GROUP BY 1, 2
    )
    SELECT user_id, n_exact, n_est,
           CAST(n_est - n_exact AS BIGINT) AS overestimate
    FROM est
    """,
)
def agg_countmin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with a DuckDB-replayable hash family: a 4 x 64
    counter grid over ``events.user_id`` (bucket_j = Carter-Wegman
    mod-(2^61-1) of the 60-bit md5 digest, then mod width), plus the
    point-query estimate ``min_j counter[j][bucket_j(x)]`` for EVERY
    distinct user next to the exact count. The CM guarantee — estimates
    never undercount, overestimate bounded by colliding mass — becomes a
    hash-checked column (``overestimate``), not a pytest-only assertion.
    Complements agg_countmin_sketch (Spark's built-in JVM sketch, kept
    rows-only because sketch BYTES are engine-specific; the counter
    ALGEBRA is engine-neutral and this query proves it).

    Scale shape: one linear pass explodes each event into d=4 (row,
    bucket) cells; the groupBy is a d*w=256-cell aggregate with map-side
    partials (sketch merge IS addition, the whole point of CM at 100 TB —
    per-partition sketches union in O(d*w)); the estimate join broadcasts
    the 256-row sketch to the distinct-user frame."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.expr(_X_SPARK).alias("x")
    )
    cells = (
        ev.select(
            F.posexplode(
                F.array(*[F.expr(_bucket_spark(j)) for j in range(_D)])
            ).alias("j", "bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    users = ev.groupBy("user_id").agg(
        F.min("x").alias("x"), F.count("*").alias("n_exact")
    )
    probes = users.select(
        "user_id",
        "n_exact",
        F.posexplode(
            F.array(*[F.expr(_bucket_spark(j)) for j in range(_D)])
        ).alias("j", "bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("n_est"))
        .select(
            "user_id",
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).cast("long").alias("overestimate"),
        )
    )


@query(
    "events_croston_intermittent",
    oracle=f"""
    WITH RECURSIVE series AS (
        SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS d,
               SUM(l_quantity) AS z
        FROM lineitem GROUP BY 1, 2
    ),
    idx AS (
        SELECT k, CAST(z AS DOUBLE) AS z,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY d) AS rn,
               CAST(DATEDIFF('day',
                    LAG(d) OVER (PARTITION BY k ORDER BY d), d) AS DOUBLE)
                   AS gap
        FROM series
    ),
    -- r11: the alpha=0.5 recurrences as per-key LIST left folds instead of
    -- the r5 one-row-per-level recursive CTE (which stepped max-series-
    -- length levels joining idx each level and dominated the gate wall at
    -- ~50-100 s — DuckDB-side only; the fold seeds with the first element
    -- exactly like the recursion's base case, so every intermediate double
    -- is bit-identical: acc' = 0.5 * z + 0.5 * acc in both forms)
    packed AS (
        SELECT k,
               LIST(z ORDER BY rn) AS zs,
               LIST(gap ORDER BY rn) FILTER (WHERE gap IS NOT NULL) AS gaps,
               CAST(COUNT(*) AS BIGINT) AS n_demand_days
        FROM idx GROUP BY k
    )
    SELECT k AS s_suppkey, n_demand_days,
           LIST_REDUCE(zs, (acc, z) -> 0.5 * z + 0.5 * acc) AS z_hat,
           LIST_REDUCE(gaps, (acc, g) -> 0.5 * g + 0.5 * acc) AS p_hat,
           LIST_REDUCE(zs, (acc, z) -> 0.5 * z + 0.5 * acc)
               / LIST_REDUCE(gaps, (acc, g) -> 0.5 * g + 0.5 * acc)
               AS croston_rate
    FROM packed WHERE LEN(gaps) >= 1
    """,
)
def events_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand, per supplier: the daily
    shipped-quantity series (zero days absent by construction) splits into
    demand SIZES z_t and inter-demand INTERVALS x_t; each gets an
    exponentially-smoothed level with alpha = 0.5, and the demand-rate
    forecast is z_hat / p_hat — the standard forecasting primitive for
    sparse series where plain EWMA systematically lags (Croston 1972).

    Determinism: the alpha=0.5 recurrences are ordered folds whose every
    intermediate is a dyadic combination of integral daily quantity sums
    and integer day gaps (the wave-34 Holt pattern) — Spark's
    sort_array+aggregate fold and DuckDB's recursive CTE produce
    bit-identical doubles, and the final IEEE division z/p is exact parity
    with no rounding anywhere.

    Scale shape: ONE shuffle keyed on (suppkey, day) for the daily rollup,
    a lag window and a fold inside each supplier partition — state per key
    is two doubles, never the series; the fold is the same
    collect-sorted-aggregate shape Spark's applyInPandasWithState would
    use in the streaming twin."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_suppkey").alias("k"),
        F.col("l_shipdate").cast("date").alias("d"),
    ).agg(F.sum("l_quantity").cast("double").alias("z"))
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("d")
    rows = daily.select(
        "k",
        "z",
        F.row_number().over(w).alias("rn"),
        F.datediff(F.col("d"), F.lag("d").over(w)).cast("double").alias("gap"),
    )
    per_key = rows.groupBy("k").agg(
        F.count("*").cast("long").alias("n_demand_days"),
        F.sort_array(F.collect_list(F.struct("rn", "z", "gap"))).alias("seq"),
    )
    z_fold = (
        "aggregate(slice(transform(seq, e -> e.z), 2, size(seq) - 1), "
        "element_at(seq, 1).z, (s, v) -> 0.5d * v + 0.5d * s)"
    )
    # try_element_at + greatest-guarded slice: ANSI mode evaluates the
    # projection even for rows a later filter would drop (the opt_lp gotcha);
    # every supplier has >= 2 demand days at all SFs, but don't rely on it.
    p_fold = (
        "aggregate(slice(transform(seq, e -> e.gap), 3,"
        " greatest(size(seq) - 2, 0)), "
        "try_element_at(seq, 2).gap, (s, v) -> 0.5d * v + 0.5d * s)"
    )
    return per_key.where(F.col("n_demand_days") >= 2).select(
        F.col("k").alias("s_suppkey"),
        "n_demand_days",
        F.expr(z_fold).alias("z_hat"),
        F.expr(p_fold).alias("p_hat"),
        (F.expr(z_fold) / F.expr(p_fold)).alias("croston_rate"),
    )


def _family_sizes_oracle() -> str:
    clusters = ORACLES["dedup_clusters"]
    return f"""
    WITH clusters AS ({clusters}),
    fam AS (
        SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS family_size
        FROM clusters GROUP BY cluster_rep
    ),
    hist AS (
        SELECT family_size,
               CAST(COUNT(*) AS BIGINT) AS n_families,
               CAST(family_size * COUNT(*) AS BIGINT) AS n_docs
        FROM fam GROUP BY family_size
    ),
    singles AS (
        SELECT CAST(1 AS BIGINT) AS family_size,
               CAST(COUNT(*) AS BIGINT) AS n_families,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM clusters)
    )
    SELECT family_size, n_families, n_docs,
           CAST(n_docs - n_families AS BIGINT) AS n_removable
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles)
    WHERE n_families > 0
    """


@query("dedup_family_sizes", oracle=_family_sizes_oracle())
def dedup_family_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate FAMILY-SIZE distribution — the corpus-health readout
    every dedup run ships: for each connected-component size (from
    dedup_clusters' label propagation over verified near-dup pairs), how
    many families exist, how many documents they hold, and how many
    documents dedup would remove (size - 1 per family); documents in no
    family appear as the size-1 row. Together with
    pipeline_dup_rate_by_source this answers "is duplication a few huge
    boilerplate families or many small ones?" — which decides whether the
    100 TB plan needs skew handling on the family key.

    Determinism: exact integer counts end-to-end; the oracle embeds
    dedup_clusters' oracle verbatim as a CTE (composition verified, never
    assumed — the pipeline_keep_best pattern).

    Scale shape: reuses the bucketed pair->cluster pipeline, then two
    tiny aggregations (families, then the size histogram) plus one
    left_anti join for the singleton row — nothing here touches raw text
    again."""
    from data_ingestor_web_app_spark.llm.vector_extra import dedup_clusters

    docs = table(spark, sf_dir, "documents")
    # r11 lineage truncation (wave124 idiom): the cluster frame is read by
    # BOTH the size histogram and the singleton anti-join; untruncated, each
    # reference re-runs dedup_clusters' whole banded-LSH pipeline. The frame
    # is only the near-dup docs (doc_id, cluster_rep) — tiny to materialize.
    clusters = (
        dedup_clusters(spark, sf_dir)
        .select("doc_id", "cluster_rep")
        .localCheckpoint(eager=True)
    )
    fam = clusters.groupBy("cluster_rep").agg(
        F.count("*").cast("long").alias("family_size")
    )
    hist = fam.groupBy("family_size").agg(
        F.count("*").cast("long").alias("n_families"),
        (F.first("family_size") * F.count("*")).cast("long").alias("n_docs"),
    )
    singles = (
        docs.join(clusters, "doc_id", "left_anti")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.lit(1).cast("long").alias("family_size"),
            F.col("n").alias("n_families"),
            F.col("n").alias("n_docs"),
        )
    )
    return (
        hist.unionByName(singles)
        .where(F.col("n_families") > 0)
        .select(
            "family_size",
            "n_families",
            "n_docs",
            (F.col("n_docs") - F.col("n_families")).cast("long").alias("n_removable"),
        )
    )
