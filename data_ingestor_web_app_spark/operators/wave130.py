"""Wave-130: Holm step-down multiple-testing control, global SSIM over the
real PNG decode path, and offline greedy-bandit replay evaluation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Abramowitz-Stegun 26.2.17 two-sided normal p — kept textually identical
# to agg_benjamini_hochberg's oracle so the two procedures share the same
# p-values and differ only in the correction rule.
_P_CHAIN = """
    2 * (EXP(-ABS(zval) * ABS(zval) / 2) / SQRT(2 * PI())
         * (0.319381530 * (1 / (1 + 0.2316419 * ABS(zval)))
            - 0.356563782 * POW(1 / (1 + 0.2316419 * ABS(zval)), 2)
            + 1.781477937 * POW(1 / (1 + 0.2316419 * ABS(zval)), 3)
            - 1.821255978 * POW(1 / (1 + 0.2316419 * ABS(zval)), 4)
            + 1.330274429 * POW(1 / (1 + 0.2316419 * ABS(zval)), 5)))
"""


@query(
    "agg_holm_stepdown",
    oracle=f"""
    WITH c AS (
        SELECT n.n_name AS nation,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS cents
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(cents * cents) AS BIGINT) AS s2
        FROM c
    ),
    per AS (
        SELECT nation, COUNT(*) AS nh, CAST(SUM(cents) AS BIGINT) AS sh
        FROM c GROUP BY nation
    ),
    z AS (
        SELECT per.nation, per.nh,
               (per.sh * 1.0 / per.nh - g.s1 * 1.0 / g.n)
               / (SQRT(CAST(g.s2 AS DOUBLE) / g.n
                       - (g.s1 * 1.0 / g.n) * (g.s1 * 1.0 / g.n))
                  / SQRT(per.nh)) AS zval
        FROM per, g
    ),
    p AS (
        SELECT nation, nh, zval, {_P_CHAIN} AS pval FROM z
    ),
    ranked AS (
        SELECT nation, nh, zval, pval,
               ROW_NUMBER() OVER (ORDER BY pval, nation) AS k,
               COUNT(*) OVER () AS m
        FROM p
    ),
    adj AS (
        SELECT nation, nh, k, m, pval,
               MAX(CASE WHEN (m - k + 1) * pval > 1.0
                        THEN 1.0 ELSE (m - k + 1) * pval END)
                   OVER (ORDER BY k
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS holm_p
        FROM ranked
    )
    SELECT nation, CAST(k AS BIGINT) AS k, ROUND(pval, 8) AS pval,
           ROUND(holm_p, 8) AS holm_p,
           CASE WHEN holm_p <= 0.10 THEN TRUE ELSE FALSE END AS rejected
    FROM adj
    """,
)
def agg_holm_stepdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down correction (Holm 1979, public) across the same 25
    nation mean-balance z-tests agg_benjamini_hochberg runs: adjusted
    p_(k) = max_{j<=k} min(1, (m-j+1)·p_(j)); reject while adjusted
    p <= alpha. Controls family-wise error (stronger than BH's FDR) with
    uniformly more power than plain Bonferroni — the other standard
    answer to the multiple-testing problem, so both correction families
    are covered.

    Determinism: identical p-value chain as the BH oracle (same
    Abramowitz-Stegun tail), a totally-ordered rank, and a running max
    window — one float chain per row in both engines.

    Scale shape: one groupBy over the fact table, then windows over the
    25-row test frame."""
    c = (
        table(spark, sf_dir, "customer")
        .join(table(spark, sf_dir, "nation"),
              F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    g = c.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    per = c.groupBy("nation").agg(
        F.count("*").alias("nh"), F.sum("cents").cast("long").alias("sh")
    )
    z = per.crossJoin(F.broadcast(g)).select(
        "nation",
        "nh",
        (
            (F.col("sh") * 1.0 / F.col("nh") - F.col("s1") * 1.0 / F.col("n"))
            / (
                F.sqrt(
                    F.col("s2").cast("double") / F.col("n")
                    - (F.col("s1") * 1.0 / F.col("n"))
                    * (F.col("s1") * 1.0 / F.col("n"))
                )
                / F.sqrt(F.col("nh"))
            )
        ).alias("zval"),
    )
    p = z.select("nation", "nh", "zval", F.expr(_P_CHAIN).alias("pval"))
    wr = Window.orderBy("pval", "nation")
    ranked = p.select(
        "nation",
        "nh",
        "pval",
        F.row_number().over(wr).alias("k"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    raw = (F.col("m") - F.col("k") + 1) * F.col("pval")
    capped = F.when(raw > 1.0, F.lit(1.0)).otherwise(raw)
    wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    adj = ranked.select(
        "nation",
        "k",
        "pval",
        F.max(capped).over(wk).alias("holm_p"),
    )
    return adj.select(
        "nation",
        F.col("k").cast("long").alias("k"),
        F.round("pval", 8).alias("pval"),
        F.round("holm_p", 8).alias("holm_p"),
        (F.col("holm_p") <= 0.10).alias("rejected"),
    )


@query(
    "mm_image_ssim_shift",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    xs AS (
        SELECT doc_id, w, h, UNNEST(RANGE(w)) AS x FROM docs
    ),
    px AS (
        SELECT doc_id, w, h, x, y,
               (x * 7 + y * 13 + doc_id) % 256 AS a,
               (((x + 1) % w) * 7 + y * 13 + doc_id) % 256 AS b
        FROM (SELECT doc_id, w, h, x, UNNEST(RANGE(h)) AS y FROM xs)
    ),
    s AS (
        SELECT doc_id, CAST(w * h AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS s1, CAST(SUM(b) AS BIGINT) AS s2,
               CAST(SUM(a * a) AS BIGINT) AS q1,
               CAST(SUM(b * b) AS BIGINT) AS q2,
               CAST(SUM(a * b) AS BIGINT) AS p
        FROM px GROUP BY doc_id, w, h
    )
    SELECT doc_id, n, s1, s2, q1, q2, p,
           ROUND(
               ((2.0 * (s1 * 1.0 / n) * (s2 * 1.0 / n) + 6.5025)
                * (2.0 * (p * 1.0 / n - (s1 * 1.0 / n) * (s2 * 1.0 / n))
                   + 58.5225))
               / (((s1 * 1.0 / n) * (s1 * 1.0 / n)
                   + (s2 * 1.0 / n) * (s2 * 1.0 / n) + 6.5025)
                  * ((q1 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                     + (q2 * 1.0 / n - (s2 * 1.0 / n) * (s2 * 1.0 / n))
                     + 58.5225)), 6) AS ssim
    FROM s
    """,
)
def mm_image_ssim_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global SSIM (Wang, Bovik, Sheikh & Simoncelli, IEEE TIP 2004,
    public) between each REAL decoded PNG and its one-pixel horizontal
    wrap-shift — the self-similarity probe that scores near-1 for smooth
    gradients and drops with high-frequency content; the frame-to-frame
    variant of this statistic is the standard video shot-change feature.
    Constants c1=(0.01·255)², c2=(0.03·255)²; population variances.
    Companion to mm_image_ssim_global (wave-72), which decomposes SSIM
    under a BRIGHTNESS shift; this one reports the full index under a
    SPATIAL shift — the two transforms SSIM treats oppositely.

    The Spark side decodes the actual PNG bytes (CRC-checked inflate in
    pkg codecs) executor-side and emits only exact integer pixel sums;
    the SSIM assembly is one double chain over those BIGINTs, identical
    to the oracle, which regenerates pixels analytically and never sees
    the PNG. So the hash check certifies decode + statistics end-to-end.

    Scale shape: mapInPandas over the binary column, NO shuffle; per-doc
    O(pixels)."""
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from data_ingestor_web_app_spark.llm.codecs import png_decode_gray

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                # pix is a bytes row-major buffer from the codec
                a = (
                    np.frombuffer(bytes(pix), dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(h, w)
                )
                b = np.roll(a, -1, axis=1)  # B(x,y) = A((x+1) mod w, y)
                rows.append(
                    (
                        doc_id,
                        w * h,
                        int(a.sum()),
                        int(b.sum()),
                        int((a * a).sum()),
                        int((b * b).sum()),
                        int((a * b).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n", "s1", "s2", "q1", "q2", "p"]
            )

    raw = payloads.mapInPandas(
        sums, schema="doc_id long, n long, s1 long, s2 long, q1 long, q2 long, p long"
    )
    m1 = F.col("s1") * 1.0 / F.col("n")
    m2 = F.col("s2") * 1.0 / F.col("n")
    cov = F.col("p") * 1.0 / F.col("n") - m1 * m2
    v1 = F.col("q1") * 1.0 / F.col("n") - m1 * m1
    v2 = F.col("q2") * 1.0 / F.col("n") - m2 * m2
    ssim = ((2.0 * m1 * m2 + 6.5025) * (2.0 * cov + 58.5225)) / (
        (m1 * m1 + m2 * m2 + 6.5025) * (v1 + v2 + 58.5225)
    )
    return raw.select(
        "doc_id", "n", "s1", "s2", "q1", "q2", "p", F.round(ssim, 6).alias("ssim")
    )


# The fixture's event taxonomy (same literals wave-61's ALS codebook keys);
# sorted order is the bandit's deterministic tie-break preference.
_ARMS = ["click", "error", "purchase", "signup", "view"]


def _bandit_sql(src: str) -> str:
    """One SQL body shared verbatim by Spark and DuckDB: greedy policy
    replay (Li et al., WSDM 2011 'Unbiased Offline Evaluation of
    Contextual-bandit-based News Article Recommendation Algorithms',
    replay method) with optimistic init and lexicographic tie-break."""
    cums = ",\n               ".join(
        f"SUM(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END) OVER w AS n_{i},\n"
        f"               SUM(CASE WHEN event_type = '{a}' THEN r ELSE 0 END)"
        f" OVER w AS r_{i}"
        for i, a in enumerate(_ARMS)
    )
    means = ",\n               ".join(
        f"CASE WHEN COALESCE(n_{i}, 0) = 0 THEN 2e0"
        f" ELSE r_{i} * 1e0 / n_{i} END AS m_{i}"
        for i in range(len(_ARMS))
    )
    chosen = "CASE "
    for i, a in enumerate(_ARMS):
        conds = " AND ".join(
            f"m_{i} >= m_{j}" for j in range(len(_ARMS)) if j != i
        )
        chosen += f"WHEN {conds} THEN '{a}' "
    chosen += "END"
    return f"""
    WITH log AS (
        SELECT event_type, ts, event_id,
               CASE WHEN CAST(ROUND(value * 1000) AS BIGINT) > 500
                    THEN 1 ELSE 0 END AS r
        FROM {src}
    ),
    cum AS (
        SELECT event_type, r,
               {cums}
        FROM log
        WINDOW w AS (ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    pol AS (
        SELECT event_type, r,
               {means}
        FROM cum
    ),
    act AS (
        SELECT event_type, r, {chosen} AS chosen FROM pol
    )
    SELECT event_type AS arm,
           CAST(COUNT(*) AS BIGINT) AS n_logged,
           CAST(SUM(CASE WHEN chosen = event_type THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matches,
           CAST(SUM(CASE WHEN chosen = event_type THEN r ELSE 0 END)
                AS BIGINT) AS matched_reward,
           ROUND(SUM(CASE WHEN chosen = event_type THEN r ELSE 0 END) * 1e0
                 / NULLIF(SUM(CASE WHEN chosen = event_type
                              THEN 1 ELSE 0 END), 0), 6) AS reward_rate
    FROM act GROUP BY event_type
    """


@query("events_bandit_replay_greedy", oracle=_bandit_sql("events"))
def events_bandit_replay_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline bandit policy evaluation by replay (Li et al., WSDM 2011,
    public): walk the logged event stream in (ts, event_id) order; a
    greedy policy (optimistic init 2.0, lexicographic tie-break) picks
    the arm with the best running empirical reward mean computed from
    STRICTLY PRIOR logged history; steps where the
    policy's choice equals the logged arm contribute their reward to the
    unbiased estimate. Reward = milli-value > 500.

    The SQL body is generated once and executed VERBATIM by both engines
    (spark.sql over the normalized temp view), so the policy semantics
    cannot drift between implementation and oracle.

    Determinism: running counts/rewards are exact integer window sums;
    means are exact-int divisions compared in one fixed CASE order;
    ties prefer the lexicographically smallest arm.

    Scale shape: the full-history window is a single global order — the
    honest cost of sequential policy replay; per-arm cumulative columns
    keep it one pass. Production replays shard by policy episode."""
    table(spark, sf_dir, "events").createOrReplaceTempView("bandit_events_src")
    return spark.sql(_bandit_sql("bandit_events_src"))
