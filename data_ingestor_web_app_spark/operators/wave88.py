"""Wave-88: Burrows' Delta stylometry between sources, Cramér's V
effect size, and a freshness-lag SLA audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# fixed high-frequency marker tokens for stylometry (the fixture corpus
# vocabulary has only two true function words, so common content tokens
# stand in as frequency markers — the Delta mechanics are identical)
_MARKERS = ("the", "a", "scan", "join", "data", "key", "row")


def _delta_oracle() -> str:
    mk = _MARKERS
    freq_cols = ",\n               ".join(
        f"SUM(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) * 1000000"
        f" // SUM(1) AS f_{i}"
        for i, t in enumerate(mk)
    )
    # per-marker z-scores from exact integer cross-source moments
    z_cols = ",\n               ".join(
        f"CASE WHEN ns * ss_{i} - s_{i} * s_{i} = 0 THEN 0.0 "
        f"ELSE (ns * f_{i} - s_{i}) / SQRT(CAST(ns AS DOUBLE) * ss_{i} - CAST(s_{i} AS DOUBLE) * s_{i}) END"
        f" AS z_{i}"
        for i in range(len(mk))
    )
    m_cols = ",\n               ".join(
        f"CAST(SUM(f_{i}) AS BIGINT) AS s_{i}, "
        f"CAST(SUM(f_{i} * f_{i}) AS BIGINT) AS ss_{i}"
        for i in range(len(mk))
    )
    delta_expr = "(" + " + ".join(
        f"ABS(a.z_{i} - b.z_{i})" for i in range(len(mk))
    ) + f") / {len(mk)}"
    return f"""
    WITH toks AS (
        SELECT source, LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token
        FROM documents
    ),
    freq AS (
        SELECT source,
               {freq_cols}
        FROM toks WHERE token <> '' GROUP BY source
    ),
    moments AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ns,
               {m_cols}
        FROM freq
    ),
    z AS (
        SELECT source,
               {z_cols}
        FROM freq, moments
    )
    SELECT a.source AS source_a, b.source AS source_b,
           ROUND({delta_expr}, 6) AS burrows_delta
    FROM z a JOIN z b ON a.source < b.source
    ORDER BY source_a, source_b
    """


@query("text_stylometry_delta", oracle=_delta_oracle())
def text_stylometry_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (2002, public), the standard stylometric
    authorship distance: per source, frequencies of a fixed
    function-word list are z-scored across sources, and Delta between
    two sources is the mean absolute z difference — small Delta means
    stylistically alike corpora, the screen a data pipeline runs to
    detect near-duplicate provenance or template-generated sources.

    Determinism: per-source frequencies are floor-scaled integers
    (count*1e6 // total tokens), cross-source moment sums are exact
    BIGINTs (n*f - s form), each z is one fixed double formula, and the
    7-marker Delta sum is a FIXED-ORDER expression over pivoted columns
    — never a float SUM over an unordered group; display rounds 6dp.

    Scale shape: tokenize explodes map-side into one conditional
    aggregate per source (map-side combined); everything after runs on
    |sources| rows; the pair join is |sources|² over a handful of
    rows."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
        .where(F.col("token") != "")
    )
    freq = toks.groupBy("source").agg(
        *[
            F.floor(
                F.sum(F.when(F.col("token") == t, 1).otherwise(0)) * 1000000 / F.count("*")
            )
            .cast("long")
            .alias(f"f_{i}")
            for i, t in enumerate(_MARKERS)
        ]
    )
    m_aggs = [F.count("*").cast("long").alias("ns")]
    for i in range(len(_MARKERS)):
        m_aggs.append(F.sum(F.col(f"f_{i}")).cast("long").alias(f"s_{i}"))
        m_aggs.append(
            F.sum(F.col(f"f_{i}") * F.col(f"f_{i}")).cast("long").alias(f"ss_{i}")
        )
    moments = freq.agg(*m_aggs)
    z = freq.crossJoin(F.broadcast(moments)).select(
        "source",
        *[
            F.when(
                F.col("ns") * F.col(f"ss_{i}") - F.col(f"s_{i}") * F.col(f"s_{i}") == 0,
                F.lit(0.0),
            )
            .otherwise(
                (F.col("ns") * F.col(f"f_{i}") - F.col(f"s_{i}"))
                / F.sqrt(
                    F.col("ns").cast("double") * F.col(f"ss_{i}")
                    - F.col(f"s_{i}").cast("double") * F.col(f"s_{i}")
                )
            )
            .alias(f"z_{i}")
            for i in range(len(_MARKERS))
        ],
    )
    a = z.select(F.col("source").alias("source_a"), *[F.col(f"z_{i}").alias(f"az_{i}") for i in range(len(_MARKERS))])
    b = z.select(F.col("source").alias("source_b"), *[F.col(f"z_{i}").alias(f"bz_{i}") for i in range(len(_MARKERS))])
    delta = sum(
        [F.abs(F.col(f"az_{i}") - F.col(f"bz_{i}")) for i in range(1, len(_MARKERS))],
        start=F.abs(F.col("az_0") - F.col("bz_0")),
    ) / len(_MARKERS)
    return (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", F.round(delta, 6).alias("burrows_delta"))
        .orderBy("source_a", "source_b")
    )


@query(
    "agg_cramers_v",
    oracle="""
    WITH cell AS (
        SELECT n_name, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS o
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        GROUP BY n_name, o_orderstatus
    ),
    margins AS (
        SELECT n_name, o_orderstatus, o,
               SUM(o) OVER (PARTITION BY n_name) AS rt,
               SUM(o) OVER (PARTITION BY o_orderstatus) AS ct,
               SUM(o) OVER () AS n
        FROM cell
    ),
    chi AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT n_name) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS c,
               SUM((o - CAST(rt AS DOUBLE) * ct / n)
                   * (o - CAST(rt AS DOUBLE) * ct / n)
                   / (CAST(rt AS DOUBLE) * ct / n)) AS chi2
        FROM margins
    )
    SELECT n, r, c,
           ROUND(chi2, 6) AS chi2_stat,
           ROUND(SQRT(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V (1946, public): the [0,1]-normalized effect size of
    the nation x order-status association — the number that tells you
    whether a 'significant' chi-square (agg_chi_square) actually
    MATTERS, closing the registry's categorical-association family
    (statistic → per-cell residuals → effect size).

    Determinism: cell counts/margins are exact integers; chi-square and
    V are fixed double formulas rounded 6dp. The chi2 SUM aggregates
    per-cell doubles — safe here because every term is O(1) and the
    75-cell sum is far from the 6dp boundary (and the driver hash
    verifies it stays so at every SF).

    Scale shape: one groupBy to cells, windows over the cell grid, one
    scalar row out."""
    cell = (
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "o_orderstatus")
        .agg(F.count("*").cast("long").alias("o"))
    )
    from pyspark.sql.window import Window

    margins = cell.select(
        "n_name",
        "o_orderstatus",
        "o",
        F.sum("o").over(Window.partitionBy("n_name")).alias("rt"),
        F.sum("o").over(Window.partitionBy("o_orderstatus")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    chi = margins.agg(
        F.max("n").alias("n"),
        F.countDistinct("n_name").cast("long").alias("r"),
        F.countDistinct("o_orderstatus").cast("long").alias("c"),
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
    )
    return chi.select(
        "n",
        "r",
        "c",
        F.round("chi2", 6).alias("chi2_stat"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))),
            6,
        ).alias("cramers_v"),
    )


@query(
    "dq_freshness_lag",
    oracle="""
    WITH per_type AS (
        SELECT event_type,
               MAX(ts) AS latest,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    ),
    global_max AS (SELECT MAX(latest) AS watermark FROM per_type)
    SELECT event_type, n_events,
           STRFTIME(latest, '%Y-%m-%dT%H:%M:%S') AS latest_ts,
           CAST(FLOOR(EPOCH(watermark - latest) / 60) AS BIGINT) AS lag_minutes,
           FLOOR(EPOCH(watermark - latest) / 60) > 1440 AS stale
    FROM per_type, global_max
    ORDER BY event_type
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-lag SLA audit: per event type, the most recent event
    timestamp, its lag behind the newest data in the whole feed, and a
    staleness verdict against a 24 h SLA — the first data-quality panel
    any ingest dashboard shows ('is some producer silently behind?'),
    complementing dq_expectations (values) and
    dq_referential_integrity (keys) with the time dimension.

    Determinism: MAX over timestamps is order-free; lag uses
    whole-minute DATEDIFF (exact integers); the verdict compares an
    integer to a literal.

    Scale shape: one map-side-combined groupBy carrying (max, count)
    partials, one broadcast scalar join back — the plan never rescans
    the feed for the watermark."""
    per_type = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max("ts").alias("latest"), F.count("*").cast("long").alias("n_events"))
    )
    wm = per_type.agg(F.max("latest").alias("watermark"))
    # FLOOR of elapsed seconds / 60 (NOT datediff-style boundary counting,
    # which DuckDB's DATEDIFF does — the oracle mirrors this EPOCH floor)
    lag_min = F.floor(
        (F.unix_timestamp("watermark") - F.unix_timestamp("latest")) / 60
    ).cast("long")
    return (
        per_type.crossJoin(F.broadcast(wm))
        .select(
            "event_type",
            "n_events",
            F.date_format("latest", "yyyy-MM-dd'T'HH:mm:ss").alias("latest_ts"),
            lag_min.alias("lag_minutes"),
            (lag_min > 1440).alias("stale"),
        )
        .orderBy("event_type")
    )
