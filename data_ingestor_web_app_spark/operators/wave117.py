"""Wave-117: Hurst exponent via rescaled range over dyadic boxes, HITS
hubs/authorities in exact integer arithmetic, and a hapax-legomena
vocabulary profile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def _hurst_size_sql(m: int) -> str:
    return f"""
        SELECT {m} AS m, box,
               (MAX(d) - MIN(d))
                   / SQRT(CAST({m} * MAX(q) - MAX(s) * MAX(s) AS DOUBLE)) AS rs
        FROM (
            SELECT box, s, q, {m} * cum - j * s AS d
            FROM (
                SELECT (i - 1) // {m} AS box, ((i - 1) % {m}) + 1 AS j, x,
                       SUM(x) OVER (PARTITION BY (i - 1) // {m}) AS s,
                       SUM(x * x) OVER (PARTITION BY (i - 1) // {m}) AS q,
                       SUM(x) OVER (PARTITION BY (i - 1) // {m} ORDER BY i) AS cum,
                       COUNT(*) OVER (PARTITION BY (i - 1) // {m}) AS cnt
                FROM idx
            ) WHERE cnt = {m}
        )
        GROUP BY box
        HAVING {m} * MAX(q) - MAX(s) * MAX(s) > 0
    """


@query(
    "events_hurst_rs",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily
    ),
    boxes AS (
        {_hurst_size_sql(4)}
        UNION ALL
        {_hurst_size_sql(16)}
    ),
    med AS (
        SELECT m, rs, ROW_NUMBER() OVER (PARTITION BY m ORDER BY rs, box) AS r,
               COUNT(*) OVER (PARTITION BY m) AS n
        FROM boxes
    ),
    sel AS (
        SELECT m, CAST(MAX(n) AS BIGINT) AS n_boxes,
               MAX(CASE WHEN r = (n + 1) // 2 THEN rs END) AS med_rs
        FROM med GROUP BY m
    )
    SELECT CAST(MAX(CASE WHEN m = 4 THEN n_boxes END) AS BIGINT) AS n_boxes_4,
           ROUND(MAX(CASE WHEN m = 4 THEN med_rs END), 6) AS rs_med_4,
           CAST(MAX(CASE WHEN m = 16 THEN n_boxes END) AS BIGINT) AS n_boxes_16,
           ROUND(MAX(CASE WHEN m = 16 THEN med_rs END), 6) AS rs_med_16,
           ROUND(LN(MAX(CASE WHEN m = 16 THEN med_rs END)
                    / MAX(CASE WHEN m = 4 THEN med_rs END)) / LN(4), 6)
               AS hurst_h
    FROM sel
    """,
)
def events_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis (Hurst 1951, Mandelbrot
    R/S, public) of the daily event-count series: partition the series
    into dyadic boxes of 4 and 16 days, compute R/S = (range of
    cumulative mean deviations) / (population std) per box, take the
    MEDIAN R/S per size, and estimate H = ln(RS16/RS4) / ln(4) —
    H > 0.5 long-range persistence, H < 0.5 mean reversion.

    Determinism: inside each box everything is exact integer arithmetic —
    deviations are scaled by m (d_j = m*cum_j - j*S) so R/S =
    (max d - min d)/sqrt(m*Q - S^2) needs exactly one sqrt and one
    division; the per-size representative is a rank-SELECTED lower median
    (never an order-sensitive float mean), and H is one log ratio.

    Scale shape: the stream collapses to a daily frame once (map-side
    combined); boxing, medians, and the final fold all run on that tiny
    frame. Box-local R/S needs no cross-box state, so at 100 TB each box
    is one partition-local pass."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    idx = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("i")
    )
    per_size = []
    for m in (4, 16):
        box = ((F.col("i") - 1) / m).cast("long")
        j = ((F.col("i") - 1) % m) + 1
        wb = Window.partitionBy("box")
        wcum = Window.partitionBy("box").orderBy("i")
        rows = idx.select("x", "i", box.alias("box"), j.alias("j"))
        rows = rows.select(
            "box",
            "j",
            F.sum("x").over(wb).alias("s"),
            F.sum(F.col("x") * F.col("x")).over(wb).alias("q"),
            F.sum("x").over(wcum).alias("cum"),
            F.count("*").over(wb).alias("cnt"),
        ).where(F.col("cnt") == m)
        d = m * F.col("cum") - F.col("j") * F.col("s")
        boxes = (
            rows.select("box", "s", "q", d.alias("d"))
            .groupBy("box")
            .agg(
                F.max("s").alias("s"),
                F.max("q").alias("q"),
                F.max("d").alias("maxd"),
                F.min("d").alias("mind"),
            )
            .where(m * F.col("q") - F.col("s") * F.col("s") > 0)
            .select(
                F.lit(m).alias("m"),
                "box",
                (
                    (F.col("maxd") - F.col("mind"))
                    / F.sqrt((m * F.col("q") - F.col("s") * F.col("s")).cast("double"))
                ).alias("rs"),
            )
        )
        per_size.append(boxes)
    boxes = per_size[0].unionByName(per_size[1])
    wm = Window.partitionBy("m").orderBy("rs", "box")
    med = boxes.select(
        "m",
        "rs",
        F.row_number().over(wm).alias("r"),
        F.count("*").over(Window.partitionBy("m")).alias("n"),
    )
    sel = med.groupBy("m").agg(
        F.max("n").cast("long").alias("n_boxes"),
        F.max(
            F.when(F.col("r") == F.floor((F.col("n") + 1) / 2), F.col("rs"))
        ).alias("med_rs"),
    )
    med4 = F.max(F.when(F.col("m") == 4, F.col("med_rs")))
    med16 = F.max(F.when(F.col("m") == 16, F.col("med_rs")))
    return sel.agg(
        F.max(F.when(F.col("m") == 4, F.col("n_boxes"))).cast("long").alias("n_boxes_4"),
        F.round(med4, 6).alias("rs_med_4"),
        F.max(F.when(F.col("m") == 16, F.col("n_boxes")))
        .cast("long")
        .alias("n_boxes_16"),
        F.round(med16, 6).alias("rs_med_16"),
        F.round(F.log(med16 / med4) / F.log(F.lit(4.0)), 6).alias("hurst_h"),
    )


@query(
    "graph_hits_bipartite",
    oracle="""
    WITH edges AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS w
        FROM events GROUP BY user_id, event_type
    ),
    a1 AS (
        SELECT event_type, CAST(SUM(w) AS BIGINT) AS a FROM edges
        GROUP BY event_type
    ),
    hub AS (
        SELECT e.user_id,
               CAST(SUM(CAST(e.w AS HUGEINT) * a1.a) AS HUGEINT) AS h
        FROM edges e JOIN a1 ON a1.event_type = e.event_type
        GROUP BY e.user_id
    ),
    a2 AS (
        SELECT e.event_type,
               CAST(SUM(CAST(e.w AS HUGEINT) * hub.h) AS HUGEINT) AS a
        FROM edges e JOIN hub ON hub.user_id = e.user_id
        GROUP BY e.event_type
    )
    SELECT a1.event_type,
           a1.a AS authority_1,
           CAST(a2.a AS DOUBLE) AS authority_2,
           ROUND(CAST(a2.a AS DOUBLE) / MAX(CAST(a2.a AS DOUBLE)) OVER (), 6)
               AS authority_norm,
           CAST(RANK() OVER (ORDER BY a2.a DESC, a1.event_type) AS BIGINT)
               AS auth_rank
    FROM a1 JOIN a2 ON a2.event_type = a1.event_type
    """,
)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, public) on the
    user -> event-type bipartite interaction graph, two exact power
    iterations: authorities a1 = column sums of the weight matrix W
    (h0 = 1), hubs h = W a1, authorities a2 = W^T h — unrolled as
    joins + aggregates so every score stays an exact wide integer, with
    normalization (by the max authority) applied only at readout.

    Determinism: all iteration state is integer (HUGEINT / DECIMAL(38));
    the only floats are the final normalized ratio; ranking breaks ties
    by event_type.

    Scale shape: this IS distributed power iteration — each step is one
    equi-join (the tiny authority/hub vector broadcasts) plus a map-side
    combined aggregate; iterations add plan depth, never data motion
    beyond the edge list's own partitioning (same posture as
    graph_pagerank_unrolled)."""
    edges = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").cast("long").alias("w"))
    )
    a1 = edges.groupBy("event_type").agg(F.sum("w").cast("long").alias("a"))
    hub = (
        edges.join(F.broadcast(a1), "event_type")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("a")).alias("h")
        )
    )
    a2 = (
        edges.join(hub, "user_id")
        .groupBy("event_type")
        .agg(F.sum(F.col("w").cast("decimal(38,0)") * F.col("h")).alias("a2"))
    )
    out = a1.join(a2, "event_type").select(
        "event_type",
        F.col("a").alias("authority_1"),
        F.col("a2").cast("double").alias("authority_2"),
    )
    wall = Window.partitionBy()
    return out.select(
        "event_type",
        "authority_1",
        "authority_2",
        F.round(
            F.col("authority_2") / F.max("authority_2").over(wall), 6
        ).alias("authority_norm"),
        F.rank()
        .over(Window.orderBy(F.col("authority_2").desc(), "event_type"))
        .cast("long")
        .alias("auth_rank"),
    )


@query(
    "text_hapax_profile",
    oracle="""
    WITH toks AS (
        SELECT d.source, t.tok
        FROM documents d,
             UNNEST(STRING_SPLIT(d.text, ' ')) AS t(tok)
    ),
    counts AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis_legomena,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_share,
           ROUND(CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS sichel_s,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS type_token_ratio
    FROM counts GROUP BY source
    """,
)
def text_hapax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena vocabulary profile per source (Baayen lexical
    statistics, public): token and type counts, the hapax share (fraction
    of vocabulary seen exactly once — the growth-rate term in Good-Turing
    and Baayen's productivity P), Sichel's S (dis-legomena share, near
    constant across corpus sizes for natural text), and the type-token
    ratio — the standard lexical-richness panel for corpus QC, catching
    template-generated or deduplicated-to-death sources whose hapax mass
    collapses.

    Determinism: whitespace tokenization (the engine's documented
    split-on-space convention), all counts exact integers, three final
    ratios rounded 6dp.

    Scale shape: explode -> (source, token) groupBy with map-side
    partials, then a per-source fold over the count-of-counts — the same
    one-shuffle shape as text_tokenize_wordcount; no collect, no windows
    over the token stream."""
    toks = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(F.count("*").cast("long").alias("c"))
    return counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("dis_legomena"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("hapax_share"),
        F.round(
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("sichel_s"),
        F.round(F.count("*").cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
    )
