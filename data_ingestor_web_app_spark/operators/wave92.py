"""Wave-92: single-pass Poisson bootstrap, difference-in-differences,
and chunk-boundary overlap dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_R = 8  # bootstrap replicates
# cumulative Poisson(1) CDF * 1e6, rounded — literal thresholds so the
# per-row weights replay identically in both engines
_POIS_CUM = (367879, 735759, 919699, 981012, 996340, 999406, 999917)


def _pois_case(uexpr: str) -> str:
    branches = " ".join(
        f"WHEN {uexpr} < {c} THEN {k}" for k, c in enumerate(_POIS_CUM)
    )
    return f"CASE {branches} ELSE 7 END"


def _boot_oracle() -> str:
    reps = ",\n               ".join(
        f"CAST(SUM(w_{r} * cents) AS BIGINT) AS s_{r}, "
        f"CAST(SUM(w_{r}) AS BIGINT) AS n_{r}"
        for r in range(_R)
    )
    wcols = ",\n               ".join(
        _pois_case(
            f"CAST(CONCAT('0x', SUBSTR(MD5(CAST(c_custkey AS VARCHAR) || '|bs{r}'), 1, 8)) AS BIGINT) % 1000000"
        )
        + f" AS w_{r}"
        for r in range(_R)
    )
    ests = ",\n               ".join(
        f"CAST(s_{r} AS DOUBLE) / n_{r} AS e_{r}" for r in range(_R)
    )
    mean_chain = "(" + " + ".join(f"e_{r}" for r in range(_R)) + f") / {_R}"
    var_chain = "(" + " + ".join(
        f"(e_{r} - bm) * (e_{r} - bm)" for r in range(_R)
    ) + f") / {_R - 1}"
    return f"""
    WITH w AS (
        SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
               {wcols}
        FROM customer
    ),
    reps AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               {reps}
        FROM w
    ),
    ests AS (
        SELECT n, CAST(s AS DOUBLE) / n AS point,
               {ests}
        FROM reps
    ),
    bm AS (SELECT *, {mean_chain} AS bm FROM ests),
    sd AS (SELECT *, SQRT({var_chain}) AS bse FROM bm)
    SELECT n,
           ROUND(point, 4) AS point_mean_cents,
           ROUND(bm, 4) AS boot_mean_cents,
           ROUND(bse, 4) AS boot_se_cents,
           ROUND(point - 2 * bse, 4) AS ci_lo,
           ROUND(point + 2 * bse, 4) AS ci_hi
    FROM sd
    """


@query("agg_poisson_bootstrap", oracle=_boot_oracle())
def agg_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass Poisson bootstrap (Chamandy et al./Google 2012,
    public) of the mean customer balance: every row gets an independent
    Poisson(1) weight per replicate, so all 8 resamples materialize in
    ONE scan as weighted sums — the only bootstrap that works at
    100 TB, where 'draw n rows with replacement' is impossible but
    per-row weights are free. Reports the point estimate, bootstrap
    mean/SE and a 2-SE interval.

    Determinism: weights come from literal Poisson-CDF thresholds on
    the portable salted-MD5 uniform (one salt per replicate); every
    replicate sum is exact BIGINT cents; the 8 replicate estimates
    combine in FIXED-ORDER arithmetic (mean and variance chains are
    literal expressions, not unordered aggregates); display rounds 4dp.

    Scale shape: one projection + one aggregate carrying 2R+2 integer
    partials — the bootstrap costs R extra columns, not R extra
    passes."""
    cents = F.round(F.col("c_acctbal") * 100).cast("long").alias("cents")
    wcols = []
    for r in range(_R):
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(f"|bs{r}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
        )
        w = F.when(u < _POIS_CUM[0], 0)
        for k in range(1, len(_POIS_CUM)):
            w = w.when(u < _POIS_CUM[k], k)
        wcols.append(w.otherwise(7).cast("long").alias(f"w_{r}"))
    wdf = table(spark, sf_dir, "customer").select(cents, *wcols)
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    ]
    for r in range(_R):
        aggs.append(F.sum(F.col(f"w_{r}") * F.col("cents")).cast("long").alias(f"s_{r}"))
        aggs.append(F.sum(f"w_{r}").cast("long").alias(f"n_{r}"))
    reps = wdf.agg(*aggs)
    ests = reps.select(
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("point"),
        *[
            (F.col(f"s_{r}").cast("double") / F.col(f"n_{r}")).alias(f"e_{r}")
            for r in range(_R)
        ],
    )
    bm_expr = sum(
        [F.col(f"e_{r}") for r in range(1, _R)], start=F.col("e_0")
    ) / _R
    bm = ests.withColumn("bm", bm_expr)
    var_expr = sum(
        [
            (F.col(f"e_{r}") - F.col("bm")) * (F.col(f"e_{r}") - F.col("bm"))
            for r in range(1, _R)
        ],
        start=(F.col("e_0") - F.col("bm")) * (F.col("e_0") - F.col("bm")),
    ) / (_R - 1)
    sd = bm.withColumn("bse", F.sqrt(var_expr))
    return sd.select(
        "n",
        F.round("point", 4).alias("point_mean_cents"),
        F.round("bm", 4).alias("boot_mean_cents"),
        F.round("bse", 4).alias("boot_se_cents"),
        F.round(F.col("point") - 2 * F.col("bse"), 4).alias("ci_lo"),
        F.round(F.col("point") + 2 * F.col("bse"), 4).alias("ci_hi"),
    )


@query(
    "events_diff_in_diff",
    oracle="""
    WITH activity AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purch
        FROM events GROUP BY user_id
    ),
    pop AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_purch) AS BIGINT) AS total_purch
        FROM activity
    ),
    span AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    cells AS (
        SELECT a.n_purch * p.n_users > p.total_purch AS treated,
               DATEDIFF('day', s.d0, CAST(e.ts AS DATE)) * 2
                   > DATEDIFF('day', s.d0, s.d1) AS post,
               CAST(ROUND(e.value * 100) AS BIGINT) AS cents
        FROM events e
        JOIN activity a USING (user_id)
        CROSS JOIN pop p CROSS JOIN span s
    ),
    m AS (
        SELECT treated, post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s
        FROM cells GROUP BY treated, post
    ),
    piv AS (
        SELECT
          MAX(CASE WHEN treated AND post THEN CAST(s AS DOUBLE) / n END) AS tp,
          MAX(CASE WHEN treated AND NOT post THEN CAST(s AS DOUBLE) / n END) AS tq,
          MAX(CASE WHEN NOT treated AND post THEN CAST(s AS DOUBLE) / n END) AS cp,
          MAX(CASE WHEN NOT treated AND NOT post THEN CAST(s AS DOUBLE) / n END) AS cq
        FROM m
    )
    SELECT ROUND(tq, 4) AS treated_pre,
           ROUND(tp, 4) AS treated_post,
           ROUND(cq, 4) AS control_pre,
           ROUND(cp, 4) AS control_post,
           ROUND((tp - tq) - (cp - cq), 4) AS did_estimate
    FROM piv
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (Card & Krueger 1994 canon, public):
    the 2x2 treated/control x pre/post mean-outcome grid and the
    interaction (T_post - T_pre) - (C_post - C_pre) — the workhorse
    quasi-experimental estimator when randomization is impossible,
    completing the causal family (CUPED, covariate balance, propensity
    matching) with the panel-data design. Treated = above-average
    purchasers; the period splits at the span midpoint; outcome is the
    per-event value in cents.

    Determinism: treatment and period are integer cross-multiplied
    comparisons; cell sums are exact BIGINT cents; each cell mean is
    one division and the DiD is fixed-order arithmetic over four
    pivoted cells, rounded 4dp.

    Scale shape: one per-user aggregate, one broadcast of two scalar
    rows, then a 4-cell conditional aggregate — two map-side-combined
    passes regardless of scale."""
    activity = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purch")
        )
    )
    pop = activity.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_purch").cast("long").alias("total_purch"),
    )
    span = table(spark, sf_dir, "events").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    cells = (
        table(spark, sf_dir, "events")
        .join(activity, "user_id")
        .crossJoin(F.broadcast(pop))
        .crossJoin(F.broadcast(span))
        .select(
            (F.col("n_purch") * F.col("n_users") > F.col("total_purch")).alias("treated"),
            (
                F.datediff(F.col("ts").cast("date"), F.col("d0")) * 2
                > F.datediff("d1", "d0")
            ).alias("post"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    m = cells.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("s")
    )
    mean = F.col("s").cast("double") / F.col("n")
    piv = m.agg(
        F.max(F.when(F.col("treated") & F.col("post"), mean)).alias("tp"),
        F.max(F.when(F.col("treated") & ~F.col("post"), mean)).alias("tq"),
        F.max(F.when(~F.col("treated") & F.col("post"), mean)).alias("cp"),
        F.max(F.when(~F.col("treated") & ~F.col("post"), mean)).alias("cq"),
    )
    return piv.select(
        F.round("tq", 4).alias("treated_pre"),
        F.round("tp", 4).alias("treated_post"),
        F.round("cq", 4).alias("control_pre"),
        F.round("cp", 4).alias("control_post"),
        F.round((F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq")), 4).alias(
            "did_estimate"
        ),
    )


@query(
    "dedup_boundary_overlap",
    oracle="""
    WITH ks AS (SELECT UNNEST(RANGE(4)) AS k),
    chunks AS (
        SELECT doc_id, k,
               doc_id * 10 + k AS chunk_id,
               SUBSTR(text, CAST(k * 160 + 1 AS INT), 200) AS chunk
        FROM documents, ks
        WHERE LENGTH(text) >= k * 160 + 200
    ),
    edges AS (
        SELECT chunk_id, doc_id, k,
               SUBSTR(chunk, 1, 40) AS head,
               SUBSTR(chunk, LENGTH(chunk) - 39, 40) AS tail
        FROM chunks
    ),
    found AS (
        SELECT a.chunk_id AS tail_chunk, b.chunk_id AS head_chunk,
               a.doc_id = b.doc_id AND b.k = a.k + 1 AS is_true_seam
        FROM edges a JOIN edges b
          ON a.tail = b.head AND a.chunk_id <> b.chunk_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_detected,
           CAST(SUM(CASE WHEN is_true_seam THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_seams,
           CAST((SELECT COUNT(*) FROM edges e1 JOIN edges e2
                 ON e2.doc_id = e1.doc_id AND e2.k = e1.k + 1) AS BIGINT)
               AS n_expected_seams
    FROM found
    """,
)
def dedup_boundary_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-boundary overlap detection: documents are windowed into
    200-char chunks with stride 160 (the standard overlapping chunker
    of RAG/pretraining pipelines), and the detector finds chunk pairs
    where the last 40 chars of one EXACTLY equal the first 40 of
    another — the continuation duplicates exact-dedup misses because
    full chunk texts differ. The audit reports detected pairs vs the
    known consecutive-chunk seams (recall must be total; extras are
    accidental cross-doc collisions).

    Determinism: pure string slicing and equality; counts are exact.

    Scale shape: chunking is a bounded explode (4 windows/doc); the
    detector is an equi-join on the 40-char boundary key — blocking-
    key-then-verify, the same discipline as the rest of the dedup
    family, with no pair explosion beyond true boundary matches."""
    ks = spark.range(4).select(F.col("id").cast("int").alias("k"))
    chunks = (
        table(spark, sf_dir, "documents")
        .crossJoin(F.broadcast(ks))
        .where(F.length("text") >= F.col("k") * 160 + 200)
        .select(
            "doc_id",
            "k",
            (F.col("doc_id") * 10 + F.col("k")).alias("chunk_id"),
            F.col("text").substr(F.col("k") * 160 + 1, F.lit(200)).alias("chunk"),
        )
    )
    edges = chunks.select(
        "chunk_id",
        "doc_id",
        "k",
        F.substring("chunk", 1, 40).alias("head"),
        F.col("chunk").substr(F.length("chunk") - 39, F.lit(40)).alias("tail"),
    )
    a = edges.select(
        F.col("chunk_id").alias("ca"), F.col("doc_id").alias("da"), F.col("k").alias("ka"), "tail"
    )
    b = edges.select(
        F.col("chunk_id").alias("cb"), F.col("doc_id").alias("db"), F.col("k").alias("kb"), "head"
    )
    found = a.join(
        b, (F.col("tail") == F.col("head")) & (F.col("ca") != F.col("cb"))
    ).select(
        ((F.col("da") == F.col("db")) & (F.col("kb") == F.col("ka") + 1)).alias(
            "is_true_seam"
        )
    )
    e1 = edges.select(F.col("doc_id").alias("da"), F.col("k").alias("ka"))
    e2 = edges.select(F.col("doc_id").alias("db"), F.col("k").alias("kb"))
    expected = e1.join(
        e2, (F.col("da") == F.col("db")) & (F.col("kb") == F.col("ka") + 1)
    ).agg(F.count("*").cast("long").alias("n_expected_seams"))
    counts = found.agg(
        F.count("*").cast("long").alias("n_detected"),
        F.sum(F.when(F.col("is_true_seam"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_seams"),
    )
    return counts.crossJoin(F.broadcast(expected)).select(
        "n_detected", "n_true_seams", "n_expected_seams"
    )
