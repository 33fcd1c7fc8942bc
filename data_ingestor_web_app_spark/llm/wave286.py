"""Wave-286: positional token entropy (the statistical boilerplate
detector — templated documents have low-entropy openings) and the SQL
VALUES inline-dimension surface op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_POSITIONS = 10


@query(
    "text_positional_entropy",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    pos AS (
        SELECT r.i AS p, t[r.i] AS tok
        FROM toks, UNNEST(RANGE(1, {_POSITIONS + 1})) AS r(i)
        WHERE r.i <= LEN(t)
    ),
    counts AS (
        SELECT p, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM pos GROUP BY p, tok
    ),
    tot AS (
        SELECT p, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY p
    )
    SELECT c.p AS position,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           ANY_VALUE(t.n) AS n_docs,
           ROUND(-SUM((c.c / CAST(t.n AS DOUBLE))
                      * LN(c.c / CAST(t.n AS DOUBLE))), 6) AS entropy,
           ROUND(MAX(c.c) / CAST(ANY_VALUE(t.n) AS DOUBLE), 6)
               AS top_token_share
    FROM counts c JOIN tot t ON t.p = c.p
    GROUP BY c.p ORDER BY c.p
    """,
)
def text_positional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional token entropy over the first 10 token slots: the
    Shannon entropy of the token distribution AT each position, plus
    the top token's share. Templated corpora betray themselves here —
    a boilerplate opening ("Terms of Service for ...") collapses
    position-1 entropy toward zero while body positions stay at
    vocabulary entropy; the profile's rise is the template depth. The
    statistical generalization of text_boilerplate_prefix (which
    matches literal prefixes) and the cheap screen before
    pipeline_dup_paragraph_removal.

    Exactness device: per-position counts are integers; entropy is one
    -sum(p ln p) over exact ratios per position.

    Scale shape: a constant 10-slot fan-out, one (position, token)
    rollup — linear, map-side-combinable."""
    toks = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    pos = toks.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, least({_POSITIONS}, size(t))),"
                " i -> struct(i as p, element_at(t, i) as tok))"
            )
        ).alias("s")
    ).select(F.col("s.p").alias("p"), F.col("s.tok").alias("tok"))
    counts = pos.groupBy("p", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = counts.groupBy("p").agg(F.sum("c").cast("long").alias("n"))
    joined = counts.join(tot, "p")
    ratio = F.col("c") / F.col("n").cast("double")
    return (
        joined.groupBy("p")
        .agg(
            F.count("*").cast("long").alias("vocab"),
            F.first("n").alias("n_docs"),
            F.round(-F.sum(ratio * F.log(ratio)), 6).alias("entropy"),
            F.round(
                F.max("c") / F.first("n").cast("double"), 6
            ).alias("top_token_share"),
        )
        .select(
            F.col("p").alias("position"),
            "vocab",
            "n_docs",
            "entropy",
            "top_token_share",
        )
        .orderBy("position")
    )


@query(
    "sql_values_inline_dim",
    oracle="""
    WITH weights(event_type, wt) AS (
        VALUES ('click', 1), ('view', 1), ('purchase', 10),
               ('signup', 5), ('error', -2)
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ANY_VALUE(w.wt) AS BIGINT) AS weight,
           CAST(COUNT(*) * ANY_VALUE(w.wt) AS BIGINT) AS weighted_score
    FROM events e JOIN weights w ON w.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def sql_values_inline_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VALUES-clause inline dimension (ANSI SQL table value
    constructor): a literal scoring dimension declared IN the query and
    joined like any table — the surface every analyst uses for ad-hoc
    weights before a real dim table exists, exercised end-to-end
    through Spark SQL's VALUES parser and join planner (broadcast, as
    the 5-row side must be).

    Determinism: literal integer weights; integer arithmetic.

    Scale shape: a 5-row broadcast join against the scan + one rollup."""
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_w286")
    return e.sparkSession.sql(
        """
        WITH weights AS (
            SELECT * FROM VALUES
                ('click', 1), ('view', 1), ('purchase', 10),
                ('signup', 5), ('error', -2)
            AS weights(event_type, wt)
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(FIRST(w.wt) AS BIGINT) AS weight,
               CAST(COUNT(*) * FIRST(w.wt) AS BIGINT) AS weighted_score
        FROM events_w286 e JOIN weights w
          ON w.event_type = e.event_type
        GROUP BY e.event_type
        ORDER BY e.event_type
        """
    )
