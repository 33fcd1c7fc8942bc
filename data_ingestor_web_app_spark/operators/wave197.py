"""Wave-197: MIPS-to-L2 augmented-vector reduction, bivariate
Mahalanobis outlier days, and a 3-round generalized-ESD extreme peeler.

The MIPS query materializes the classic Bachrach/Shrivastava trick —
append sqrt(M^2 - ||x||^2) so maximum-inner-product search becomes
nearest-neighbor in L2 — and PROVES the equivalence row-by-row: worked
entirely in squared space, aug_d2 = qq + M2 - 2*dot is exact integer
arithmetic, so the two rankings must agree bit-for-bit. Mahalanobis and
ESD run on integer daily moments with closed-form 2x2 inversion and
anti-join re-aggregation respectively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_NPROBE = 5
_TOPK = 3
_DEC = "decimal(38,0)"
_CHI2_2_975 = 7.377758908227871  # chi2(df=2) 0.975 quantile
_ESD_ROUNDS = 3


@query(
    "sim_mips_augmented",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qx
        FROM embeddings
    ),
    qd AS (
        SELECT vec_id, i, qx[i] AS qv
        FROM q, UNNEST(GENERATE_SERIES(1, LEN(qx))) AS t(i)
    ),
    xx AS (
        SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS xx
        FROM qd GROUP BY vec_id
    ),
    m2 AS (SELECT CAST(MAX(xx) AS BIGINT) AS m2 FROM xx),
    probes AS (SELECT vec_id AS pid FROM q ORDER BY vec_id LIMIT {_NPROBE}),
    dots AS (
        SELECT p.pid, o.vec_id AS nid,
               CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
        FROM probes p
        JOIN q o ON o.vec_id <> p.pid
        JOIN qd a ON a.vec_id = p.pid
        JOIN qd b ON b.vec_id = o.vec_id AND b.i = a.i
        GROUP BY p.pid, o.vec_id
    ),
    scored AS (
        SELECT d.pid, d.nid, d.dot,
               px.xx + m2.m2 - 2 * d.dot AS aug_d2,
               ROW_NUMBER() OVER (PARTITION BY d.pid
                                  ORDER BY d.dot DESC, d.nid) AS rank_dot,
               ROW_NUMBER() OVER (PARTITION BY d.pid
                                  ORDER BY px.xx + m2.m2 - 2 * d.dot ASC,
                                           d.nid) AS rank_aug
        FROM dots d JOIN xx px ON px.vec_id = d.pid, m2
    )
    SELECT pid AS probe_id, nid AS neighbor_id,
           CAST(rank_dot AS BIGINT) AS rank_dot,
           CAST(rank_aug AS BIGINT) AS rank_aug,
           dot AS dot_q, aug_d2
    FROM scored WHERE rank_dot <= {_TOPK}
    """,
)
def sim_mips_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the augmented-vector L2
    reduction: append sqrt(M^2 - ||x||^2) to every corpus vector (M =
    max norm) and a 0 to the query — then L2-NN on the augmented space
    IS MIPS on the original. The enabling transform for running
    dot-product retrieval on any L2-only ANN index. This query emits the
    top-{_TOPK} inner-product neighbors for {_NPROBE} probes with BOTH
    ranks; rank_dot == rank_aug on every row is the proof (aug_d2 =
    ||q||^2 + M^2 - 2<q,x> needs no sqrt, so it stays exact integer).

    Determinism: quantized exact-integer dots and norms; both row_number
    orderings carry the neighbor-id tie-break.

    Scale shape: {_NPROBE} probes broadcast against the corpus — linear
    scan; the per-probe top-k is a {_TOPK}-row window over per-probe
    partitions. M^2 is one global max (map-side partial)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    xx = q.select(
        "vec_id",
        F.aggregate(
            F.transform("qx", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("xx"),
    )
    m2 = xx.agg(F.max("xx").alias("m2"))
    probes = (
        q.orderBy("vec_id")
        .limit(_NPROBE)
        .select(F.col("vec_id").alias("pid"), F.col("qx").alias("px"))
        .join(
            xx.select(F.col("vec_id").alias("pid"), F.col("xx").alias("pxx")),
            "pid",
        )
    )
    dot = F.aggregate(
        F.zip_with("px", "qx", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dots = (
        q.join(xx, "vec_id")
        .crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("pid"))
        .crossJoin(F.broadcast(m2))
        .select(
            "pid",
            F.col("vec_id").alias("nid"),
            dot.alias("dot"),
            (F.col("pxx") + F.col("m2") - 2 * dot).alias("aug_d2"),
        )
    )
    wd = Window.partitionBy("pid").orderBy(F.col("dot").desc(), "nid")
    wa = Window.partitionBy("pid").orderBy(F.col("aug_d2").asc(), "nid")
    return (
        dots.withColumn("rank_dot", F.row_number().over(wd).cast("long"))
        .withColumn("rank_aug", F.row_number().over(wa).cast("long"))
        .where(F.col("rank_dot") <= _TOPK)
        .select(
            F.col("pid").alias("probe_id"),
            F.col("nid").alias("neighbor_id"),
            "rank_dot",
            "rank_aug",
            F.col("dot").alias("dot_q"),
            "aug_d2",
        )
    )


_DAILY_SQL = """daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day_idx,
               CAST(COUNT(*) AS BIGINT) AS a,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS b
        FROM events GROUP BY 1
    )"""


@query(
    "agg_mahalanobis_outliers",
    oracle=f"""
    WITH {_DAILY_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS sa,
               CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(a * a) AS HUGEINT) AS saa,
               CAST(SUM(CAST(a AS HUGEINT) * b) AS HUGEINT) AS sab,
               CAST(SUM(CAST(b AS HUGEINT) * b) AS HUGEINT) AS sbb
        FROM daily
    ),
    scat AS (
        SELECT n, sa, sb,
               n * saa - CAST(sa AS HUGEINT) * sa AS sxx,
               n * sab - CAST(sa AS HUGEINT) * sb AS sxy,
               n * sbb - CAST(sb AS HUGEINT) * sb AS syy
        FROM mom
    )
    SELECT d.day_idx, d.a AS n_events, d.b AS units,
           ROUND((s.n - 1)
                 * CAST((n * d.a - sa) * (n * d.a - sa) * s.syy
                        - 2 * (n * d.a - sa) * (n * d.b - sb) * s.sxy
                        + (n * d.b - sb) * (n * d.b - sb) * s.sxx
                        AS DOUBLE)
                 / (s.n * CAST(s.sxx * s.syy - s.sxy * s.sxy AS DOUBLE)),
                 6) AS md2,
           (s.n - 1)
               * CAST((n * d.a - sa) * (n * d.a - sa) * s.syy
                      - 2 * (n * d.a - sa) * (n * d.b - sb) * s.sxy
                      + (n * d.b - sb) * (n * d.b - sb) * s.sxx
                      AS DOUBLE)
               / (s.n * CAST(s.sxx * s.syy - s.sxy * s.sxy AS DOUBLE))
               > {_CHI2_2_975} AS is_outlier
    FROM daily d, scat s
    """,
)
def agg_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Mahalanobis outlier screen over the daily (event count,
    spend) pairs: md2 = c' Cov^-1 c per day with the closed-form 2x2
    inverse, flagged against the chi-square(2) 97.5% quantile. Catches
    days that are individually normal on each axis but jointly weird
    (few events + huge spend) — the standard multivariate upgrade to
    per-metric z-scores.

    Determinism: with u = n*a - Sa, v = n*b - Sb (exact integers), md2 =
    (n-1)*(u^2*SYY - 2uv*SXY + v^2*SXX) / (n*(SXX*SYY - SXY^2)) where
    SXX = n*sum(a^2) - Sa^2 etc. are exact 128-bit integers — one double
    division at the end, identical shape both engines; spend uses
    half-up whole units to keep the quartic products inside 128 bits.

    Scale shape: the fact table collapses to one row per day first;
    the moment pass and the per-day scoring are both map-side trivial
    against a broadcast 1-row moment frame."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_idx")
    ).agg(
        F.count("*").cast("long").alias("a"),
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("b"),
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.col("a").cast(_DEC) * F.col("a")).alias("saa"),
        F.sum(F.col("a").cast(_DEC) * F.col("b")).alias("sab"),
        F.sum(F.col("b").cast(_DEC) * F.col("b")).alias("sbb"),
    )
    scat = mom.select(
        "n",
        "sa",
        "sb",
        (F.col("n") * F.col("saa") - F.col("sa").cast(_DEC) * F.col("sa")).alias("sxx"),
        (F.col("n") * F.col("sab") - F.col("sa").cast(_DEC) * F.col("sb")).alias("sxy"),
        (F.col("n") * F.col("sbb") - F.col("sb").cast(_DEC) * F.col("sb")).alias("syy"),
    )
    j = daily.crossJoin(F.broadcast(scat))
    u = F.col("n") * F.col("a") - F.col("sa")
    v = F.col("n") * F.col("b") - F.col("sb")
    num = (
        u.cast(_DEC) * u * F.col("syy")
        - 2 * u.cast(_DEC) * v * F.col("sxy")
        + v.cast(_DEC) * v * F.col("sxx")
    )
    den = F.col("n") * (
        F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy")
    ).cast("double")
    md2 = (F.col("n") - 1) * num.cast("double") / den
    return j.select(
        "day_idx",
        F.col("a").alias("n_events"),
        F.col("b").alias("units"),
        F.round(md2, 6).alias("md2"),
        (md2 > _CHI2_2_975).alias("is_outlier"),
    )


def _esd_oracle() -> str:
    ctes = [_DAILY_SQL, "r0 AS (SELECT day_idx, b FROM daily)"]
    selects = []
    for r in range(1, _ESD_ROUNDS + 1):
        prev = f"r{r - 1}"
        ctes.append(
            f"""m{r} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(b) AS BIGINT) AS s,
               CAST(SUM(CAST(b AS HUGEINT) * b) AS HUGEINT) AS s2
        FROM {prev}
    )"""
        )
        ctes.append(
            f"""x{r} AS (
        SELECT p.day_idx, p.b, m.n, m.s, m.s2,
               ABS(m.n * p.b - m.s) AS dev
        FROM {prev} p, m{r} m
        ORDER BY ABS(m.n * p.b - m.s) DESC, p.day_idx
        LIMIT 1
    )"""
        )
        ctes.append(
            f"""r{r} AS (
        SELECT p.day_idx, p.b FROM {prev} p
        WHERE p.day_idx <> (SELECT day_idx FROM x{r})
    )"""
        )
        selects.append(
            f"""SELECT {r} AS iteration, day_idx, b AS units,
           ROUND(CAST(dev AS DOUBLE)
                 / (n * SQRT(CAST(n * s2 - CAST(s AS HUGEINT) * s
                                  AS DOUBLE) / (CAST(n AS HUGEINT) * n
                                                * (n - 1)))), 6) AS r_stat
    FROM x{r}"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
        + "\n    ORDER BY iteration"
    )


@query("agg_esd_extremes", oracle=_esd_oracle())
def agg_esd_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-ESD style extreme peeling on the daily spend series:
    {_ESD_ROUNDS} rounds of "compute mean/sd of what remains, emit the
    most studentized observation, remove it, repeat". Unlike a single
    Grubbs pass (agg_grubbs_test), the re-computation after each removal
    is what makes masked outliers visible — two extremes hide each other
    in round 1's sd.

    Determinism: the argmax each round compares |n*x - S| — exact
    integers with a day-idx tie-break; the studentized r uses
    sd = sqrt((n*S2 - S^2)/(n^2(n-1))) so r = dev / (n*sd), one double
    expression per round.

    Scale shape: the series is the per-day aggregate (bounded by
    calendar length, constant in corpus size); each round is one
    aggregate + one TakeOrdered(1) + one anti-filter over that bounded
    frame — the unrolled form is {_ESD_ROUNDS} tiny stages after a
    single fact-table pass."""
    events = table(spark, sf_dir, "events")
    remaining = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_idx")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("b")
    )
    out = None
    for r in range(1, _ESD_ROUNDS + 1):
        m = remaining.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("b").cast("long").alias("s"),
            F.sum(F.col("b").cast(_DEC) * F.col("b")).alias("s2"),
        )
        x = (
            remaining.crossJoin(F.broadcast(m))
            .withColumn("dev", F.abs(F.col("n") * F.col("b") - F.col("s")))
            .orderBy(F.col("dev").desc(), "day_idx")
            .limit(1)
        )
        sd = F.sqrt(
            (F.col("n") * F.col("s2") - F.col("s").cast(_DEC) * F.col("s")).cast(
                "double"
            )
            / (F.col("n").cast(_DEC) * F.col("n") * (F.col("n") - 1)).cast(
                "double"
            )
        )
        row = x.select(
            F.lit(r).cast("int").alias("iteration"),
            "day_idx",
            F.col("b").alias("units"),
            F.round(
                F.col("dev").cast("double") / (F.col("n") * sd), 6
            ).alias("r_stat"),
        )
        out = row if out is None else out.unionAll(row)
        removed = x.select("day_idx")
        remaining = remaining.join(removed, "day_idx", "left_anti")
    return out.orderBy("iteration")
