"""Wave-190: Heaps'-law vocabulary-growth fit, code-likeness detection,
and a regex-free non-ASCII audit.

Heaps' law (V = K * W^beta) is the canonical corpus-growth diagnostic; a
naive fit needs the running distinct-vocabulary curve, which is a
sequential scan. Here the curve is sampled at 16 geometric doc-id
checkpoints: V(c) = #tokens whose FIRST document is below c (one groupBy
+ a broadcast theta-join against the checkpoint list), so the whole fit
is two linear passes regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# geometric checkpoint fractions of the max doc_id (identical literals in
# both plans; 16 points are plenty for a 2-parameter log-log fit)
_FRACS = [round(0.05 * 1.22**i, 6) for i in range(16)]
_FRACS_SQL = ", ".join(repr(f) for f in _FRACS)


@query(
    "text_heaps_law_fit",
    oracle=f"""
    WITH mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS m FROM documents),
    cps AS (
        SELECT CAST(FLOOR(f * m) AS BIGINT) AS c
        FROM mx, UNNEST([{_FRACS_SQL}]) AS t(f)
        WHERE FLOOR(f * m) >= 1
    ),
    words AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
        FROM documents
    ),
    firsts AS (
        SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS fd
        FROM words GROUP BY tok
    ),
    curve AS (
        SELECT cps.c,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
                WHERE firsts.fd < cps.c) AS v,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM words
                WHERE words.doc_id < cps.c) AS w
        FROM cps
    ),
    pts AS (
        SELECT LIST(STRUCT_PACK(c := c, x := LN(CAST(w AS DOUBLE)),
                                y := LN(CAST(v AS DOUBLE)))
                    ORDER BY c) AS xs,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM curve WHERE w > 0 AND v > 0
    ),
    moms AS (
        SELECT n,
               LIST_REDUCE(LIST_TRANSFORM(xs, s -> s.x), (a,b) -> a+b) AS sx,
               LIST_REDUCE(LIST_TRANSFORM(xs, s -> s.y), (a,b) -> a+b) AS sy,
               LIST_REDUCE(LIST_TRANSFORM(xs, s -> s.x * s.x),
                           (a,b) -> a+b) AS sxx,
               LIST_REDUCE(LIST_TRANSFORM(xs, s -> s.x * s.y),
                           (a,b) -> a+b) AS sxy
        FROM pts
    )
    SELECT n AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
           ROUND(EXP((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n), 6) AS k_coef
    FROM moms
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K * W^beta for the corpus vocabulary-growth
    curve (V = distinct tokens, W = total tokens, both as functions of a
    doc-id prefix): beta well below 1 is the healthy sub-linear growth of
    natural text; beta near 1 flags synthetic/ID-heavy content. The
    planning primitive for "how big will the vocabulary be at 100 TB".

    Determinism: V and W at each checkpoint are exact counts (token
    first-occurrence vs checkpoint, a broadcast theta-join); the log-log
    OLS runs over an ORDERED 16-element fold, so slope and intercept are
    identical IEEE doubles in both engines.

    Scale shape: the vocabulary pass is one groupBy(token) min(doc_id)
    with map-side partials; the checkpoint counts fan each token/word row
    out to at most 16 broadcast checkpoints -- the growth CURVE costs 16x
    one aggregation, never a sequential scan."""
    docs = table(spark, sf_dir, "documents")
    m = docs.agg(F.max("doc_id").cast("long").alias("m"))
    cps = (
        m.select(
            F.explode(F.expr(f"array({_FRACS_SQL})")).alias("f"), "m"
        )
        .select(F.floor(F.col("f") * F.col("m")).cast("long").alias("c"))
        .where(F.col("c") >= 1)
    )
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    firsts = words.groupBy("tok").agg(F.min("doc_id").cast("long").alias("fd"))
    vcounts = (
        firsts.join(F.broadcast(cps), F.col("fd") < F.col("c"))
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("v"))
    )
    wcounts = (
        words.join(F.broadcast(cps), F.col("doc_id") < F.col("c"))
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("w"))
    )
    curve = vcounts.join(wcounts, "c").where((F.col("w") > 0) & (F.col("v") > 0))
    pts = curve.select(
        "c",
        F.log(F.col("w").cast("double")).alias("x"),
        F.log(F.col("v").cast("double")).alias("y"),
    ).agg(
        F.sort_array(F.collect_list(F.struct("c", "x", "y"))).alias("xs"),
        F.count("*").cast("long").alias("n"),
    )
    moms = pts.select(
        "n",
        F.expr("aggregate(transform(xs, s -> s.x), 0d, (a,b) -> a+b)").alias("sx"),
        F.expr("aggregate(transform(xs, s -> s.y), 0d, (a,b) -> a+b)").alias("sy"),
        F.expr("aggregate(transform(xs, s -> s.x * s.x), 0d, (a,b) -> a+b)").alias(
            "sxx"
        ),
        F.expr("aggregate(transform(xs, s -> s.x * s.y), 0d, (a,b) -> a+b)").alias(
            "sxy"
        ),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return moms.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round(F.exp((F.col("sy") - slope * F.col("sx")) / F.col("n")), 6).alias(
            "k_coef"
        ),
    )


@query(
    "text_code_detect",
    oracle="""
    WITH scored AS (
        SELECT source,
               CAST(LEN(text) AS BIGINT) AS chars,
               CAST(LEN(text) - LEN(REPLACE(text, ';', ''))
                    + LEN(text) - LEN(REPLACE(text, '{', ''))
                    + LEN(text) - LEN(REPLACE(text, '}', ''))
                    + LEN(text) - LEN(REPLACE(text, '(', ''))
                    + LEN(text) - LEN(REPLACE(text, ')', ''))
                    + LEN(text) - LEN(REPLACE(text, '=', ''))
                    AS BIGINT) AS symbols
        FROM documents WHERE LEN(text) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN 20 * symbols > chars THEN 1 ELSE 0 END)
                AS BIGINT) AS n_code_like,
           ROUND(CAST(SUM(symbols) AS DOUBLE) / SUM(chars), 6)
               AS symbol_density
    FROM scored GROUP BY source
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-likeness heuristic per source: the density of program symbols
    (; { } ( ) =) relative to characters, with a doc flagged code-like
    when symbols exceed 5% of characters -- the cheap first-pass router
    that decides whether a document goes to the code or prose pipeline.

    Determinism: symbol counts via length-minus-replaced-length (exact
    integers, no regex dialect in play); the flag threshold is the
    integer cross-multiplication 20*symbols > chars; only the final
    density ratio is a double.

    Scale shape: embarrassingly parallel scan + one groupBy(source) with
    map-side partials."""
    docs = table(spark, sf_dir, "documents").where(F.length("text") > 0)

    def cnt(ch: str):
        return F.length("text") - F.length(F.replace(F.col("text"), F.lit(ch)))

    scored = docs.select(
        "source",
        F.length("text").cast("long").alias("chars"),
        (cnt(";") + cnt("{") + cnt("}") + cnt("(") + cnt(")") + cnt("="))
        .cast("long")
        .alias("symbols"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((20 * F.col("symbols") > F.col("chars")).cast("long"))
        .cast("long")
        .alias("n_code_like"),
        F.round(
            F.sum("symbols").cast("double") / F.sum("chars"), 6
        ).alias("symbol_density"),
    )


@query(
    "text_ascii_ratio_by_lang",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS n_chars,
           CAST(SUM(CAST(STRLEN(text) AS BIGINT)
                    - CAST(LENGTH(text) AS BIGINT)) AS BIGINT)
               AS utf8_excess_bytes,
           ROUND(1 - CAST(SUM(CAST(STRLEN(text) AS BIGINT)
                             - CAST(LENGTH(text) AS BIGINT)) AS DOUBLE)
                     / SUM(CAST(STRLEN(text) AS BIGINT)), 6)
               AS ascii_byte_ratio
    FROM documents GROUP BY lang
    """,
)
def text_ascii_ratio_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-ASCII audit per language WITHOUT regex: in UTF-8 the byte
    length exceeds the character length by exactly the multi-byte
    continuation count, so octet_length - char_length is a precise
    non-ASCII mass measure (zh should dominate, en should be near zero --
    pinned in pytest). The encoding-health check a multilingual corpus
    runs before tokenizer training, immune to regex dialect differences
    between engines.

    Determinism: byte and char lengths are exact integers in both
    engines (Spark octet_length/length = DuckDB strlen/length); one
    double division at the end.

    Scale shape: embarrassingly parallel scan + groupBy(lang) with
    map-side partials."""
    docs = table(spark, sf_dir, "documents")
    excess = F.octet_length("text").cast("long") - F.length("text").cast("long")
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text").cast("long")).cast("long").alias("n_chars"),
        F.sum(excess).cast("long").alias("utf8_excess_bytes"),
        F.round(
            1
            - F.sum(excess).cast("double")
            / F.sum(F.octet_length("text").cast("long")),
            6,
        ).alias("ascii_byte_ratio"),
    )
