"""Wave-194: cluster-validity metrics over the embeddings table —
simplified (centroid) silhouette per cluster, and the Calinski-Harabasz
/ Davies-Bouldin indices.

The evaluation side of the existing clustering stack (sim_kmeans_iter,
dedup_clusters, sim_ivf_*): given an assignment (the fixture's `label`),
HOW GOOD is it? All distances run on embeddings quantized to exact
integers (q = floor(x * 1e6), the vector_common.plane_micro_dot idiom),
so every squared distance is an exact 128-bit integer rational
num/n_c^2 and both engines round the identical double at the very end —
no float-summation-order hazard anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"

# shared oracle CTE block: quantized vectors, per-dimension centroid
# sums, per-cluster moments, and per-(point, cluster) exact distances
_CTES = """
    q AS (
        SELECT vec_id, label,
               LIST_TRANSFORM(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qx
        FROM embeddings
    ),
    qd AS (
        SELECT vec_id, label, i, qx[i] AS qv
        FROM q, UNNEST(GENERATE_SERIES(1, LEN(qx))) AS t(i)
    ),
    sizes AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY label
    ),
    cent AS (
        SELECT label, i, CAST(SUM(qv) AS BIGINT) AS s
        FROM qd GROUP BY label, i
    ),
    cmom AS (
        SELECT c.label, z.n,
               CAST(SUM(CAST(c.s AS HUGEINT) * c.s) AS HUGEINT) AS ss
        FROM cent c JOIN sizes z ON z.label = c.label
        GROUP BY c.label, z.n
    ),
    xx AS (
        SELECT vec_id, label,
               CAST(SUM(CAST(qv AS HUGEINT) * qv) AS HUGEINT) AS xx
        FROM qd GROUP BY vec_id, label
    ),
    xs AS (
        SELECT p.vec_id, p.label AS own, c.label AS cl,
               CAST(SUM(CAST(p.qv AS HUGEINT) * c.s) AS HUGEINT) AS xs
        FROM qd p JOIN cent c ON c.i = p.i
        GROUP BY p.vec_id, p.label, c.label
    ),
    dists AS (
        SELECT x.vec_id, x.own, x.cl,
               SQRT(CAST(xx.xx * m.n * m.n - 2 * x.xs * m.n + m.ss
                         AS DOUBLE)) / m.n AS d
        FROM xs x
        JOIN xx ON xx.vec_id = x.vec_id
        JOIN cmom m ON m.label = x.cl
    )
"""


@query(
    "sim_silhouette_simplified",
    oracle=f"""
    WITH {_CTES},
    sil AS (
        SELECT vec_id, own,
               MAX(CASE WHEN cl = own THEN d END) AS a,
               MIN(CASE WHEN cl <> own THEN d END) AS b
        FROM dists GROUP BY vec_id, own
    ),
    nano AS (
        SELECT own,
               CAST(FLOOR((b - a) / GREATEST(a, b) * 1e9) AS BIGINT) AS sn
        FROM sil
    )
    SELECT own AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(SUM(sn) / COUNT(*) / 1e9, 6) AS mean_silhouette,
           ROUND(SUM(CASE WHEN sn > 0 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS frac_positive
    FROM nano GROUP BY own
    """,
)
def sim_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for each
    vector, a = distance to its own centroid, b = distance to the nearest
    OTHER centroid, s = (b-a)/max(a,b); report per-cluster mean and the
    fraction of positively-assigned points. The O(n*k) silhouette variant
    that scales — the classic O(n^2) pairwise form is infeasible at
    100 TB, and the centroid form is the standard approximation
    (SimplifiedSilhouette, Hruschka et al.).

    Determinism: d(x, mu_c) = sqrt(xx*n^2 - 2*xs*n + ss)/n where every
    term under the sqrt is an exact 128-bit integer from 1e6-quantized
    components; per-point silhouettes quantize to nano-ints BEFORE the
    per-cluster mean so the sum is order-independent.

    Scale shape: centroids are one groupBy(label, dim) with map-side
    partials (k*dim rows); each point then scores against a BROADCAST
    k-row centroid table — linear scan, no point-point pairs ever."""
    _, sil = _centroid_dists(spark, sf_dir)
    nano = sil.select(
        "own",
        F.floor(
            (F.col("b") - F.col("a"))
            / F.greatest("a", "b")
            * F.lit(1e9)
        )
        .cast("long")
        .alias("sn"),
    )
    return nano.groupBy(F.col("own").alias("label")).agg(
        F.count("*").cast("long").alias("n_points"),
        F.round(F.sum("sn") / F.count("*") / F.lit(1e9), 6).alias(
            "mean_silhouette"
        ),
        F.round(
            F.sum(F.when(F.col("sn") > 0, 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("frac_positive"),
    )


@query(
    "sim_cluster_validity",
    oracle=f"""
    WITH {_CTES},
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM sizes
    ),
    gcent AS (
        SELECT i, CAST(SUM(s) AS BIGINT) AS g FROM cent GROUP BY i
    ),
    gmom AS (
        SELECT CAST(SUM(CAST(g AS HUGEINT) * g) AS HUGEINT) AS gg
        FROM gcent
    ),
    cg AS (
        SELECT c.label,
               CAST(SUM(CAST(c.s AS HUGEINT) * g.g) AS HUGEINT) AS sg
        FROM cent c JOIN gcent g ON g.i = c.i
        GROUP BY c.label
    ),
    sxx AS (
        SELECT label, CAST(SUM(xx) AS HUGEINT) AS sxx
        FROM xx GROUP BY label
    ),
    terms AS (
        SELECT m.label, m.n, m.ss,
               CAST(s.sxx AS DOUBLE) - CAST(m.ss AS DOUBLE) / m.n AS w_c,
               (CAST(m.ss AS HUGEINT) * t.nn * t.nn
                - 2 * cg.sg * t.nn * m.n
                + g.gg * m.n * m.n) AS bnum,
               m.n * CAST(t.nn AS HUGEINT) * t.nn AS bden
        FROM cmom m
        JOIN sxx s ON s.label = m.label
        JOIN cg ON cg.label = m.label, tot t, gmom g
    ),
    folded AS (
        SELECT LIST_REDUCE(LIST(w_c ORDER BY label), (x, y) -> x + y)
                   AS w,
               LIST_REDUCE(LIST(CAST(bnum AS DOUBLE) / CAST(bden AS
                   DOUBLE) ORDER BY label), (x, y) -> x + y) AS b
        FROM terms
    ),
    pairs AS (
        SELECT a.label AS la, b.label AS lb,
               SQRT(CAST(a.ss AS DOUBLE) / (CAST(a.n AS DOUBLE) * a.n)
                    - 2 * CAST(ab.ab AS DOUBLE) / (CAST(a.n AS DOUBLE)
                                                    * b.n)
                    + CAST(b.ss AS DOUBLE) / (CAST(b.n AS DOUBLE) * b.n))
                   AS dij,
               SQRT((CAST(sa.sxx AS DOUBLE) - CAST(a.ss AS DOUBLE) / a.n)
                    / a.n)
               + SQRT((CAST(sb.sxx AS DOUBLE) - CAST(b.ss AS DOUBLE)
                       / b.n) / b.n) AS sij
        FROM cmom a
        JOIN cmom b ON a.label < b.label
        JOIN (SELECT x.label AS la, y.label AS lb,
                     CAST(SUM(CAST(x.s AS HUGEINT) * y.s) AS HUGEINT)
                         AS ab
              FROM cent x JOIN cent y ON x.i = y.i AND x.label < y.label
              GROUP BY x.label, y.label) ab
          ON ab.la = a.label AND ab.lb = b.label
        JOIN sxx sa ON sa.label = a.label
        JOIN sxx sb ON sb.label = b.label
    ),
    rmax AS (
        SELECT label, MAX(r) AS rmx FROM (
            SELECT la AS label, sij / dij AS r FROM pairs
            UNION ALL
            SELECT lb AS label, sij / dij AS r FROM pairs
        ) GROUP BY label
    ),
    db AS (
        SELECT LIST_REDUCE(LIST(rmx ORDER BY label), (x, y) -> x + y)
                   AS rsum,
               CAST(COUNT(*) AS BIGINT) AS kk
        FROM rmax
    )
    SELECT t.nn AS n_points, t.k AS k_clusters,
           ROUND(f.w / 1e12, 6) AS w_ss,
           ROUND(f.b / 1e12, 6) AS b_ss,
           ROUND((f.b / (t.k - 1)) / (f.w / (t.nn - t.k)), 6)
               AS calinski_harabasz,
           ROUND(db.rsum / db.kk, 6) AS davies_bouldin
    FROM folded f, tot t, db
    """,
)
def sim_cluster_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz (variance-ratio) and Davies-Bouldin indices for
    the label assignment over the embeddings: CH = [B/(k-1)]/[W/(N-k)]
    from the within/between sum-of-squares decomposition, DB = mean over
    clusters of max_j (s_i + s_j)/d(mu_i, mu_j). The two standard
    no-ground-truth cluster scores; together with the silhouette they
    decide "did this clustering run converge to something usable".

    Determinism: W and B decompose into per-cluster terms whose
    numerators are exact 128-bit integers (quantized component sums);
    each term becomes a double with one correctly-rounded division, and
    the k-term sums run as ORDERED label folds (sort_array + aggregate /
    LIST ORDER BY + LIST_REDUCE) so both engines add the same doubles in
    the same order. The k*(k-1)/2 centroid-pair pass is exact-integer
    under the sqrt.

    Scale shape: everything after the one groupBy(label, dim) centroid
    pass is k- or k^2-sized (k = clusters, tiny); the fact table is
    touched exactly twice (centroid sums + per-point xx), both map-side
    combinable."""
    q, _ = _centroid_dists(spark, sf_dir)
    cent, cmom, xxdf = q
    tot = cmom.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
    )
    gcent = cent.groupBy("i").agg(F.sum("s").cast("long").alias("g"))
    gmom = gcent.agg(
        F.sum(F.col("g").cast(_DEC) * F.col("g")).alias("gg")
    )
    cg = (
        cent.join(gcent, "i")
        .groupBy("label")
        .agg(F.sum(F.col("s").cast(_DEC) * F.col("g")).alias("sg"))
    )
    sxx = xxdf.groupBy(F.col("label")).agg(F.sum("xx").alias("sxx"))
    terms = (
        cmom.join(sxx, "label")
        .join(cg, "label")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(gmom))
        .select(
            "label",
            "n",
            "ss",
            (
                F.col("sxx").cast("double")
                - F.col("ss").cast("double") / F.col("n")
            ).alias("w_c"),
            (
                (
                    F.col("ss") * F.col("nn") * F.col("nn")
                    - 2 * F.col("sg") * F.col("nn") * F.col("n")
                    + F.col("gg") * F.col("n") * F.col("n")
                ).cast("double")
                / (F.col("n").cast(_DEC) * F.col("nn") * F.col("nn")).cast(
                    "double"
                )
            ).alias("b_c"),
        )
    )
    folded = terms.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("label", "w_c"))),
                lambda t: t.w_c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("w"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("label", "b_c"))),
                lambda t: t.b_c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("b"),
    )
    # centroid-pair distances and per-cluster scatters (k^2 rows)
    a = cmom.join(sxx, "label").select(
        F.col("label").alias("la"),
        F.col("n").alias("na"),
        F.col("ss").alias("ssa"),
        F.col("sxx").alias("sxxa"),
    )
    b = cmom.join(sxx, "label").select(
        F.col("label").alias("lb"),
        F.col("n").alias("nb"),
        F.col("ss").alias("ssb"),
        F.col("sxx").alias("sxxb"),
    )
    ca = cent.select(
        F.col("label").alias("la"), "i", F.col("s").alias("sa")
    )
    cb = cent.select(
        F.col("label").alias("lb"), "i", F.col("s").alias("sb")
    )
    ab = (
        ca.join(cb, ["i"])
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa").cast(_DEC) * F.col("sb")).alias("ab"))
    )
    pairs = (
        a.join(b, a.la < b.lb)
        .join(ab, ["la", "lb"])
        .select(
            "la",
            "lb",
            F.sqrt(
                F.col("ssa").cast("double")
                / (F.col("na").cast("double") * F.col("na"))
                - 2
                * F.col("ab").cast("double")
                / (F.col("na").cast("double") * F.col("nb"))
                + F.col("ssb").cast("double")
                / (F.col("nb").cast("double") * F.col("nb"))
            ).alias("dij"),
            (
                F.sqrt(
                    (
                        F.col("sxxa").cast("double")
                        - F.col("ssa").cast("double") / F.col("na")
                    )
                    / F.col("na")
                )
                + F.sqrt(
                    (
                        F.col("sxxb").cast("double")
                        - F.col("ssb").cast("double") / F.col("nb")
                    )
                    / F.col("nb")
                )
            ).alias("sij"),
        )
    )
    both = pairs.select(
        F.col("la").alias("label"), (F.col("sij") / F.col("dij")).alias("r")
    ).unionAll(
        pairs.select(
            F.col("lb").alias("label"),
            (F.col("sij") / F.col("dij")).alias("r"),
        )
    )
    rmax = both.groupBy("label").agg(F.max("r").alias("rmx"))
    db = rmax.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("label", "rmx"))),
                lambda t: t.rmx,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("rsum"),
        F.count("*").cast("long").alias("kk"),
    )
    return (
        folded.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(db))
        .select(
            F.col("nn").alias("n_points"),
            F.col("k").alias("k_clusters"),
            F.round(F.col("w") / 1e12, 6).alias("w_ss"),
            F.round(F.col("b") / 1e12, 6).alias("b_ss"),
            F.round(
                (F.col("b") / (F.col("k") - 1))
                / (F.col("w") / (F.col("nn") - F.col("k"))),
                6,
            ).alias("calinski_harabasz"),
            F.round(F.col("rsum") / F.col("kk"), 6).alias("davies_bouldin"),
        )
    )


def _centroid_dists(spark: SparkSession, sf_dir: str):
    """Shared machinery: quantized vectors, centroid moments, and the
    per-(point, centroid) exact distance frame reduced to silhouette
    (a, b) pairs. Returns ((cent, cmom, xx), sil)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    qd = q.select(
        "vec_id", "label", F.posexplode("qx").alias("i", "qv")
    )
    sizes = q.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    cent = qd.groupBy("label", "i").agg(
        F.sum("qv").cast("long").alias("s")
    )
    cmom = (
        cent.join(sizes, "label")
        .groupBy("label", "n")
        .agg(F.sum(F.col("s").cast(_DEC) * F.col("s")).alias("ss"))
    )
    xx = qd.groupBy("vec_id", "label").agg(
        F.sum(F.col("qv").cast(_DEC) * F.col("qv")).alias("xx")
    )
    # per-point scoring against the broadcast centroid dimension table
    xs = (
        qd.select("vec_id", F.col("label").alias("own"), "i", "qv")
        .join(
            F.broadcast(
                cent.select(F.col("label").alias("cl"), "i", "s")
            ),
            "i",
        )
        .groupBy("vec_id", "own", "cl")
        .agg(F.sum(F.col("qv").cast(_DEC) * F.col("s")).alias("xs"))
    )
    dists = (
        xs.join(xx.select("vec_id", "xx"), "vec_id")
        .join(
            F.broadcast(
                cmom.select(F.col("label").alias("cl"), "n", "ss")
            ),
            "cl",
        )
        .select(
            "vec_id",
            "own",
            "cl",
            (
                F.sqrt(
                    (
                        F.col("xx") * F.col("n") * F.col("n")
                        - 2 * F.col("xs") * F.col("n")
                        + F.col("ss")
                    ).cast("double")
                )
                / F.col("n")
            ).alias("d"),
        )
    )
    sil = dists.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("cl") == F.col("own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.col("d"))).alias("b"),
    )
    return (cent, cmom, xx), sil
