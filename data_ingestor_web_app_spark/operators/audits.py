"""Wave-30: forensic/integrity audits and curriculum ordering.

agg_benford is the fraud-forensics screen; scan_table_checksum is the
cross-replica consistency fingerprint every replication pipeline
compares; pipeline_curriculum composes the bigram-LM difficulty score
into training phases (curriculum learning, Bengio et al. 2009, public),
with the upstream operator's oracle embedded so the composition is
verified end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm import lm_score  # noqa: F401  registers text_bigram_lm_score
from data_ingestor_web_app_spark.registry import ORACLES, query


@query(
    "agg_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT d, COUNT(*) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT SUM(n) AS tn FROM obs)
    SELECT obs.d,
           obs.n,
           ROUND(obs.n * 1.0 / tot.tn, 6) AS observed,
           ROUND(LN(1.0 + 1.0 / obs.d) / LN(10), 6) AS benford,
           ROUND(ABS(obs.n * 1.0 / tot.tn - LN(1.0 + 1.0 / obs.d) / LN(10)), 6)
               AS abs_dev
    FROM obs, tot
    """,
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed leading-
    digit frequencies against the log₁₀(1 + 1/d) expectation, with the
    per-digit absolute deviation — the forensic-accounting screen for
    fabricated figures (synthetic uniform prices fail it loudly, which is
    itself the finding on this fixture).

    Scale shape: the digit extraction is a per-row projection; the
    distribution is a 9-key map-side-combined groupBy plus a one-row
    broadcast normalizer."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    # explicit FLOOR: Spark's double->bigint cast truncates while DuckDB's
    # CAST rounds — floor() is the one spelling both engines agree on
    d = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = o.select(d.alias("d")).groupBy("d").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").alias("tn"))
    benford = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    observed = F.col("n") * 1.0 / F.col("tn")
    return obs.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        F.round(observed, 6).alias("observed"),
        F.round(benford, 6).alias("benford"),
        F.round(F.abs(observed - benford), 6).alias("abs_dev"),
    )


@query(
    "scan_table_checksum",
    oracle="""
    WITH rowhash AS (
        SELECT CAST(CONCAT('0x', SUBSTR(MD5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   o_orderstatus || '|' ||
                   CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
                   STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d')
               ), 1, 10)) AS BIGINT) AS h
        FROM orders
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS checksum_sum,
           CAST(XOR(MIN(h), MAX(h)) AS BIGINT) AS minmax_xor
    FROM rowhash
    """,
)
def scan_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint: each row canonicalizes to a
    delimited string (money scaled to exact integer cents — never a float
    repr), hashes to a 40-bit integer (first 10 md5 hex digits — the same
    digest in both engines, and 2^40 x rows stays far inside int64 for
    the SUM), and the table signature is (row count, SUM of
    hashes, min⊕max) — additive and commutative, so replicas compare
    fingerprints without sorting anything. This is the consistency check
    run after every replication/backfill (the reference has no integrity
    check at all — its JSON log is trusted blindly).

    Scale shape: per-row projection + one map-side-combined global
    aggregate; the SUM-of-hashes signature merges across partitions,
    days, and reruns exactly like the engine's other mergeable summaries
    (bitmaps, HLL sketches)."""
    o = table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        # explicit ROUND: 2dp money is within 1 ulp of integer cents, so
        # round-to-nearest is unambiguous — a bare cast truncates in Spark
        # but rounds in DuckDB
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 10), 16, 10).cast("bigint")
    rowhash = o.select(h.alias("h"))
    return rowhash.agg(
        F.count("*").alias("n_rows"),
        F.sum("h").alias("checksum_sum"),
        F.expr("min(h) ^ max(h)").alias("minmax_xor"),
    )


def _curriculum_oracle() -> str:
    lm = ORACLES["text_bigram_lm_score"]
    return f"""
    WITH scored AS ({lm}),
    qs AS (
        SELECT QUANTILE_CONT(avg_nll, 1.0 / 3) AS q1,
               QUANTILE_CONT(avg_nll, 2.0 / 3) AS q2
        FROM scored
    ),
    phased AS (
        SELECT s.doc_id, s.avg_nll,
               CASE WHEN s.avg_nll <= qs.q1 THEN 1
                    WHEN s.avg_nll <= qs.q2 THEN 2
                    ELSE 3 END AS phase
        FROM scored s, qs
    )
    SELECT phase,
           COUNT(*) AS n_docs,
           ROUND(AVG(avg_nll), 6) AS mean_nll,
           ROUND(MIN(avg_nll), 6) AS min_nll,
           ROUND(MAX(avg_nll), 6) AS max_nll
    FROM phased GROUP BY phase
    """


@query("pipeline_curriculum", oracle=_curriculum_oracle())
def pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phases (easy → medium → hard) by statistical-LM
    difficulty: documents tercile-split on their bigram-LM mean NLL
    (text_bigram_lm_score, whose oracle is embedded verbatim — the
    composition is verified, not assumed), with per-phase difficulty
    stats. Curriculum learning feeds phase 1 first (Bengio et al. 2009,
    public); the phase column is what the data loader orders by.

    Scale shape: the scoring pipeline's own two shuffles, one exact
    tercile aggregate over the per-doc score frame (approx_percentile at
    extreme corpus sizes, same plan), and a broadcast of the 2-boundary
    row back over the scores."""
    from data_ingestor_web_app_spark.llm.lm_score import text_bigram_lm_score

    scored = text_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_nll")
    qs = scored.agg(
        F.expr("percentile(avg_nll, 1.0D / 3)").alias("q1"),
        F.expr("percentile(avg_nll, 2.0D / 3)").alias("q2"),
    )
    phase = (
        F.when(F.col("avg_nll") <= F.col("q1"), 1)
        .when(F.col("avg_nll") <= F.col("q2"), 2)
        .otherwise(3)
    )
    return (
        scored.crossJoin(F.broadcast(qs))
        .groupBy(phase.alias("phase"))
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("avg_nll"), 6).alias("mean_nll"),
            F.round(F.min("avg_nll"), 6).alias("min_nll"),
            F.round(F.max("avg_nll"), 6).alias("max_nll"),
        )
    )
