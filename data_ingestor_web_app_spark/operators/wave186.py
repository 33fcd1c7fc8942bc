"""Wave-186: Wilcoxon signed-rank (paired), language-distribution
divergence suite (KL/JS/Hellinger/TV), and a linear-time polynomial-kernel
MMD over embeddings.

The MMD is the scale headline: the naive two-sample MMD is O(N*M) pairwise
kernel evaluations, but for the polynomial kernel k(x,y) = (x.y/d + 1)^2
the pair sums decompose exactly into second-moment contractions --
sum_ij (x_i.y_j)^2 = <M_X, M_Y>_F with M = sum_i x x^T -- so the whole
statistic is ONE linear scan building d^2 moment sums per group plus a
4096-row contraction. No pair is ever materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_wilcoxon_signed_rank",
    oracle="""
    WITH halves AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CASE WHEN EXTRACT(HOUR FROM ts) < 12
                             THEN 1 ELSE 0 END) AS BIGINT) AS am,
               CAST(SUM(CASE WHEN EXTRACT(HOUR FROM ts) >= 12
                             THEN 1 ELSE 0 END) AS BIGINT) AS pm
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    diffs AS (
        SELECT pm - am AS diff, ABS(pm - am) AS absd
        FROM halves WHERE pm <> am
    ),
    ranked AS (
        SELECT diff,
               CAST(RANK() OVER (ORDER BY absd) AS BIGINT) AS rmin,
               CAST(COUNT(*) OVER (PARTITION BY absd) AS BIGINT) AS teq
        FROM diffs
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN diff > 0
                             THEN rmin + (teq - 1) / 2.0e0
                             ELSE 0 END) AS DOUBLE) AS w_plus
        FROM ranked
    ),
    ties AS (
        SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tsum
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM diffs GROUP BY absd)
    )
    SELECT n AS n_pairs,
           w_plus,
           ROUND((w_plus - n * (n + 1) / 4.0e0)
                 / SQRT(n * (n + 1) * (2 * n + 1) / 24.0e0
                        - tsum / 48.0e0), 6) AS z_stat
    FROM agg, ties
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired daily halves: for each day the
    pair is (AM event count, PM event count); zero differences drop, |d|
    gets average ranks (tie-aware), W+ is the positive-rank sum, and the
    normal approximation z uses the standard tie-corrected variance
    n(n+1)(2n+1)/24 - sum(t^3-t)/48. The paired complement to the
    independent-samples agg_mann_whitney.

    Determinism: counts are exact integers; average ranks are rmin +
    (teq-1)/2 -- dyadic rationals exact in doubles; mu/var are built from
    integer products with the identical expression shape both engines, so
    z is the same IEEE double before the 6dp display rounding.

    Scale shape: one groupBy(day) with map-side partials does all the
    heavy lifting; the rank window runs over the per-day frame (~30 rows
    -- bounded by the calendar, not the corpus)."""
    ev = table(spark, sf_dir, "events")
    halves = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.hour("ts") < 12, 1).otherwise(0)).cast("long").alias("am"),
        F.sum(F.when(F.hour("ts") >= 12, 1).otherwise(0)).cast("long").alias("pm"),
    )
    diffs = halves.where(F.col("pm") != F.col("am")).select(
        (F.col("pm") - F.col("am")).alias("diff"),
        F.abs(F.col("pm") - F.col("am")).alias("absd"),
    )
    ranked = diffs.select(
        "diff",
        F.rank().over(Window.orderBy("absd")).cast("long").alias("rmin"),
        F.count("*").over(Window.partitionBy("absd")).cast("long").alias("teq"),
    )
    agg = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("diff") > 0,
                F.col("rmin") + (F.col("teq") - 1) / F.lit(2.0),
            ).otherwise(F.lit(0.0))
        )
        .cast("double")
        .alias("w_plus"),
    )
    ties = (
        diffs.groupBy("absd")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")), F.lit(0)
            )
            .cast("long")
            .alias("tsum")
        )
    )
    j = agg.crossJoin(ties)
    n = F.col("n")
    return j.select(
        n.alias("n_pairs"),
        "w_plus",
        F.round(
            (F.col("w_plus") - n * (n + 1) / F.lit(4.0))
            / F.sqrt(
                n * (n + 1) * (2 * n + 1) / F.lit(24.0)
                - F.col("tsum") / F.lit(48.0)
            ),
            6,
        ).alias("z_stat"),
    )


@query(
    "text_lang_divergence",
    oracle="""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
    nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS lcnt FROM langs),
    srcs AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    cells AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang
    ),
    gl AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS g
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM documents),
    grid AS (
        SELECT s.source, s.n_docs, l.lang,
               CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                   / (s.n_docs + nl.lcnt) AS p,
               CAST(gl.g + 1 AS DOUBLE) / (tot.nt + nl.lcnt) AS q
        FROM srcs s CROSS JOIN langs l CROSS JOIN nl CROSS JOIN tot
        JOIN gl ON gl.lang = l.lang
        LEFT JOIN cells c ON c.source = s.source AND c.lang = l.lang
    ),
    folded AS (
        SELECT source, n_docs,
               LIST(STRUCT_PACK(lang := lang, p := p, q := q)
                    ORDER BY lang) AS xs
        FROM grid GROUP BY source, n_docs
    )
    SELECT source, n_docs,
           ROUND(LIST_REDUCE(LIST_TRANSFORM(xs,
                     s -> s.p * LN(s.p / s.q)), (a, b) -> a + b), 6)
               AS kl_pq,
           ROUND(LIST_REDUCE(LIST_TRANSFORM(xs,
                     s -> 0.5e0 * s.p * LN(2 * s.p / (s.p + s.q))
                          + 0.5e0 * s.q * LN(2 * s.q / (s.p + s.q))),
                     (a, b) -> a + b), 6) AS js_div,
           ROUND(SQRT(1 - LIST_REDUCE(LIST_TRANSFORM(xs,
                     s -> SQRT(s.p * s.q)), (a, b) -> a + b)), 6)
               AS hellinger,
           ROUND(0.5e0 * LIST_REDUCE(LIST_TRANSFORM(xs,
                     s -> ABS(s.p - s.q)), (a, b) -> a + b), 6) AS tv_dist
    FROM folded
    """,
)
def text_lang_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift suite per document source: the source's language
    distribution vs the corpus-global one, under add-one smoothing, scored
    four ways -- KL(p||q), Jensen-Shannon divergence, Hellinger distance,
    and total variation. The shard-vs-corpus drift check a training-data
    pipeline runs before mixing a new source in.

    Determinism: p and q come from exact integer counts via one double
    division each (identical expression shape); every sum over the
    language axis is an ORDERED fold over the lang-sorted struct list
    (Spark aggregate/transform vs DuckDB LIST_REDUCE/LIST_TRANSFORM, same
    association), so hash-exact at 6dp.

    Scale shape: two groupBys ((source,lang) and lang) with map-side
    partials; the dense grid is dims-only (|sources| x |langs|) and the
    fold runs over |langs| elements per source."""
    docs = table(spark, sf_dir, "documents")
    langs = docs.select("lang").distinct()
    # language-dim and corpus counts folded in as 1-row broadcasts
    # (no build-time jobs)
    lf = langs.agg(F.count("*").cast("long").alias("lcnt"))
    ntf = docs.agg(F.count("*").cast("long").alias("nt"))
    srcs = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    cells = docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("c"))
    glob = docs.groupBy("lang").agg(F.count("*").cast("long").alias("g"))
    grid = (
        srcs.crossJoin(F.broadcast(langs))
        .join(F.broadcast(glob), "lang")
        .join(cells, ["source", "lang"], "left")
        .crossJoin(F.broadcast(lf))
        .crossJoin(F.broadcast(ntf))
        .select(
            "source",
            "n_docs",
            "lang",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("n_docs") + F.col("lcnt"))
            ).alias("p"),
            (
                (F.col("g") + 1).cast("double")
                / (F.col("nt") + F.col("lcnt")).cast("double")
            ).alias("q"),
        )
    )
    folded = grid.groupBy("source", "n_docs").agg(
        F.sort_array(F.collect_list(F.struct("lang", "p", "q"))).alias("xs")
    )
    return folded.select(
        "source",
        "n_docs",
        F.round(
            F.expr("aggregate(transform(xs, s -> s.p * ln(s.p / s.q)),"
                   " 0d, (a, b) -> a + b)"),
            6,
        ).alias("kl_pq"),
        F.round(
            F.expr(
                "aggregate(transform(xs,"
                " s -> 0.5d * s.p * ln(2 * s.p / (s.p + s.q))"
                " + 0.5d * s.q * ln(2 * s.q / (s.p + s.q))),"
                " 0d, (a, b) -> a + b)"
            ),
            6,
        ).alias("js_div"),
        F.round(
            F.sqrt(
                1
                - F.expr("aggregate(transform(xs, s -> sqrt(s.p * s.q)),"
                         " 0d, (a, b) -> a + b)")
            ),
            6,
        ).alias("hellinger"),
        F.round(
            F.lit(0.5)
            * F.expr("aggregate(transform(xs, s -> abs(s.p - s.q)),"
                     " 0d, (a, b) -> a + b)"),
            6,
        ).alias("tv_dist"),
    )


_Q = 1_000_000  # embedding quantization scale (exact-integer moments)
_D = 64  # embedding dimensionality (pinned by the fixture)


@query(
    "sim_mmd_poly",
    oracle=f"""
    WITH base AS (
        SELECT label,
               LIST_TRANSFORM(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_Q} + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings
    ),
    flat AS (
        SELECT label,
               FLATTEN(LIST_TRANSFORM(qv,
                   a -> LIST_TRANSFORM(qv, b -> a * b))) AS f,
               qv
        FROM base
    ),
    mrows AS (
        SELECT label, GENERATE_SUBSCRIPTS(f, 1) AS pos, UNNEST(f) AS v
        FROM flat
    ),
    m AS (
        SELECT label, pos, CAST(SUM(v) AS BIGINT) AS mv
        FROM mrows GROUP BY label, pos
    ),
    srows AS (
        SELECT label, GENERATE_SUBSCRIPTS(qv, 1) AS a, UNNEST(qv) AS x
        FROM base
    ),
    s AS (
        SELECT label, a, CAST(SUM(x) AS BIGINT) AS sv
        FROM srows GROUP BY label, a
    ),
    counts AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
               FROM base GROUP BY label),
    ntot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM counts),
    mtot AS (SELECT pos, CAST(SUM(mv) AS BIGINT) AS mt FROM m GROUP BY pos),
    stot AS (SELECT a, CAST(SUM(sv) AS BIGINT) AS st FROM s GROUP BY a),
    mdots AS (
        SELECT m.label,
               SUM(CAST(m.mv AS HUGEINT) * m.mv) AS maa,
               SUM(CAST(m.mv AS HUGEINT) * mt.mt) AS mat
        FROM m JOIN mtot mt ON mt.pos = m.pos GROUP BY m.label
    ),
    mglob AS (SELECT SUM(CAST(mt AS HUGEINT) * mt) AS mtt FROM mtot),
    sdots AS (
        SELECT s.label,
               SUM(CAST(s.sv AS HUGEINT) * s.sv) AS saa,
               SUM(CAST(s.sv AS HUGEINT) * st.st) AS sat
        FROM s JOIN stot st ON st.a = s.a GROUP BY s.label
    ),
    sglob AS (SELECT SUM(CAST(st AS HUGEINT) * st) AS stt FROM stot),
    terms AS (
        SELECT c.label, c.n, nt.nt - c.n AS nr,
               CAST(md.maa AS DOUBLE) AS maa,
               CAST(md.mat - md.maa AS DOUBLE) AS mar,
               CAST(mg.mtt - 2 * md.mat + md.maa AS DOUBLE) AS mrr,
               CAST(sd.saa AS DOUBLE) AS saa,
               CAST(sd.sat - sd.saa AS DOUBLE) AS sar,
               CAST(sg.stt - 2 * sd.sat + sd.saa AS DOUBLE) AS srr
        FROM counts c CROSS JOIN ntot nt CROSS JOIN mglob mg
        CROSS JOIN sglob sg
        JOIN mdots md ON md.label = c.label
        JOIN sdots sd ON sd.label = c.label
    )
    SELECT label,
           n AS n_in,
           nr AS n_rest,
           ROUND(
             (maa / ({_Q}::DOUBLE * {_Q} * {_Q} * {_Q}) / ({_D} * {_D})
               + 2 * saa / ({_Q}::DOUBLE * {_Q}) / {_D} + CAST(n AS DOUBLE) * n)
               / (CAST(n AS DOUBLE) * n)
             + (mrr / ({_Q}::DOUBLE * {_Q} * {_Q} * {_Q}) / ({_D} * {_D})
               + 2 * srr / ({_Q}::DOUBLE * {_Q}) / {_D} + CAST(nr AS DOUBLE) * nr)
               / (CAST(nr AS DOUBLE) * nr)
             - 2 * (mar / ({_Q}::DOUBLE * {_Q} * {_Q} * {_Q}) / ({_D} * {_D})
               + 2 * sar / ({_Q}::DOUBLE * {_Q}) / {_D} + CAST(n AS DOUBLE) * nr)
               / (CAST(n AS DOUBLE) * nr),
           6) AS mmd2
    FROM terms
    ORDER BY label
    """,
)
def sim_mmd_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum Mean Discrepancy (biased V-statistic) between each label's
    embeddings and the rest of the corpus, under the degree-2 polynomial
    kernel k(x,y) = (x.y/d + 1)^2 -- the two-sample distribution test a
    data pipeline uses to ask "does this shard's embedding distribution
    match the corpus?" without any pairwise work.

    The trick: sum_ij (x_i . y_j)^2 = <M_X, M_Y>_F where M = sum x x^T,
    and sum_ij x_i . y_j = s_X . s_Y where s = sum x. So each group needs
    only its d^2 second-moment sums, its d first-moment sums and n; the
    rest-group moments are exact differences from the global totals. One
    linear scan, zero pairs.

    Determinism: embeddings quantize to integers (floor(x*1e6 + 0.5) --
    half-up both engines per the win_distribution_ranks lesson); ALL
    moment sums and Frobenius contractions are exact integers (HUGEINT /
    DECIMAL(38) -- products reach ~2^95), converted to double once in the
    final identical-shape kernel formula, then 6dp rounding.

    Scale shape: per-row cost d^2 (the second-moment outer product), then a
    groupBy with map-side partials onto |labels| x d^2 cells; the
    contraction joins are on 4096-row broadcast frames. Linear in rows --
    the naive MMD is O(N^2) kernel evaluations.

    r11 optimization (guide §4.2): the d^2 outer product + moment partials
    are ONE Arrow-batched numpy pass per task (M += Q^T Q in native code)
    instead of a |rows| x 4096 posexplode through the JVM hash aggregate —
    that explode pushed 8.2M interpreted rows per 2k embeddings through a
    single-task partial aggregate (measured 2.1-3.0 s/stage, and the m
    subtree ran TWICE: once under mdots, once under mtot). The partial
    frame is |labels| x tasks rows, localCheckpointed so every downstream
    moment consumer (m/s/counts -> mdots/mtot/sdots/stot) reuses the single
    corpus scan (eager, wave124 idiom — a lazy checkpoint would still let
    AQE's concurrently-submitted consumer stages each recompute the pass).
    All arithmetic stays exact int64 (same quantize -> product ->
    wraparound-sum semantics both engines; partial order irrelevant for
    integer sums)."""
    emb = table(spark, sf_dir, "embeddings")

    def _moment_partials(batches):
        import numpy as np
        import pandas as pd

        acc: dict[int, list] = {}
        for pdf in batches:
            for label, grp in pdf.groupby("label", sort=False):
                x = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
                q = np.floor(x * float(_Q) + 0.5).astype(np.int64)
                ent = acc.get(int(label))
                if ent is None:
                    ent = acc[int(label)] = [
                        np.zeros((_D, _D), dtype=np.int64),
                        np.zeros(_D, dtype=np.int64),
                        0,
                    ]
                ent[0] += q.T @ q
                ent[1] += q.sum(axis=0)
                ent[2] += q.shape[0]
        if acc:
            yield pd.DataFrame(
                {
                    "label": list(acc),
                    "n": [v[2] for v in acc.values()],
                    "marr": [v[0].ravel() for v in acc.values()],
                    "sarr": [v[1] for v in acc.values()],
                }
            )

    mom = (
        emb.select("label", "embedding")
        .mapInPandas(
            _moment_partials,
            "label int, n long, marr array<long>, sarr array<long>",
        )
        .localCheckpoint(eager=True)
    )
    m = (
        mom.select("label", F.posexplode("marr").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.sum("v").cast("long").alias("mv"))
    )
    s = (
        mom.select("label", F.posexplode("sarr").alias("a0", "x"))
        .groupBy("label", (F.col("a0") + 1).alias("a"))
        .agg(F.sum("x").cast("long").alias("sv"))
    )
    counts = mom.groupBy("label").agg(F.sum("n").cast("long").alias("n"))
    ntot = counts.agg(F.sum("n").cast("long").alias("nt"))
    mtot = m.groupBy("pos").agg(F.sum("mv").cast("long").alias("mt"))
    stot = s.groupBy("a").agg(F.sum("sv").cast("long").alias("st"))
    dec = "decimal(38,0)"
    mdots = (
        m.join(F.broadcast(mtot), "pos")
        .groupBy("label")
        .agg(
            F.sum(F.col("mv").cast(dec) * F.col("mv")).alias("maa"),
            F.sum(F.col("mv").cast(dec) * F.col("mt")).alias("mat"),
        )
    )
    mglob = mtot.agg(F.sum(F.col("mt").cast(dec) * F.col("mt")).alias("mtt"))
    sdots = (
        s.join(F.broadcast(stot), "a")
        .groupBy("label")
        .agg(
            F.sum(F.col("sv").cast(dec) * F.col("sv")).alias("saa"),
            F.sum(F.col("sv").cast(dec) * F.col("st")).alias("sat"),
        )
    )
    sglob = stot.agg(F.sum(F.col("st").cast(dec) * F.col("st")).alias("stt"))
    terms = (
        counts.crossJoin(ntot)
        .crossJoin(mglob)
        .crossJoin(sglob)
        .join(mdots, "label")
        .join(sdots, "label")
        .select(
            "label",
            "n",
            (F.col("nt") - F.col("n")).alias("nr"),
            F.col("maa").cast("double").alias("maa"),
            (F.col("mat") - F.col("maa")).cast("double").alias("mar"),
            (F.col("mtt") - 2 * F.col("mat") + F.col("maa"))
            .cast("double")
            .alias("mrr"),
            F.col("saa").cast("double").alias("saa"),
            (F.col("sat") - F.col("saa")).cast("double").alias("sar"),
            (F.col("stt") - 2 * F.col("sat") + F.col("saa"))
            .cast("double")
            .alias("srr"),
        )
    )
    q4 = F.lit(float(_Q)) * _Q * _Q * _Q
    q2 = F.lit(float(_Q)) * _Q
    d2 = F.lit(_D * _D)

    def _k(mterm, sterm, na, nb):
        return (
            F.col(mterm) / q4 / d2
            + 2 * F.col(sterm) / q2 / F.lit(_D)
            + na.cast("double") * nb
        )

    n, nr = F.col("n"), F.col("nr")
    return (
        terms.select(
            "label",
            n.alias("n_in"),
            nr.alias("n_rest"),
            F.round(
                _k("maa", "saa", n, n) / (n.cast("double") * n)
                + _k("mrr", "srr", nr, nr) / (nr.cast("double") * nr)
                - 2 * _k("mar", "sar", n, nr) / (n.cast("double") * nr),
                6,
            ).alias("mmd2"),
        )
        .orderBy("label")
    )
