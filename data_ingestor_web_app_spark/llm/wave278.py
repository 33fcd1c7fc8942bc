"""Wave-278: Church-Gale lexical adaptation (does seeing a word once
predict seeing it again? — the burstiness fact that breaks the Poisson
word model) and the perimeter/compactness shape descriptor per decoded
PNG (completing the Euler-number topology suite with geometry).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_ADAPT_MIN_DF = 20
_ADAPT_TOPK = 20


@query(
    "text_adaptation_church",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ),
    n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    stats AS (
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS df1,
               CAST(SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS df2
        FROM tf GROUP BY tok
        HAVING COUNT(*) >= {_ADAPT_MIN_DF}
    )
    SELECT tok, df1, df2,
           ROUND(df1 / CAST(n.nd AS DOUBLE), 6) AS prior,
           ROUND(df2 / CAST(df1 AS DOUBLE), 6) AS adaptation,
           ROUND((df2 / CAST(df1 AS DOUBLE))
                 / (df1 / CAST(n.nd AS DOUBLE)), 6) AS adaptation_lift
    FROM stats CROSS JOIN n_docs n
    ORDER BY adaptation DESC, tok
    LIMIT {_ADAPT_TOPK}
    """,
)
def text_adaptation_church(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale lexical adaptation (Church, EMNLP 2000 "Empirical
    estimates of adaptation: the chance of two Noriegas is closer to
    p/2 than p^2", public): for each token with document frequency >=
    20, the prior P(tok in doc) = df1/N against the adapted P(tf >= 2 |
    tf >= 1) = df2/df1. Under a Poisson/independence word model the
    two would be comparable; real words ADAPT — the lift df-ratio over
    prior is the burstiness factor that motivates cache language
    models and the df (not tf) weighting in BM25. Top-20 by
    adaptation, ties by token.

    Exactness device: pure integer document-frequency counting; three
    rounded ratios; top-k with a total order.

    Scale shape: one (doc, token) rollup + one token rollup — both
    map-side-combinable, the text_inverted_index cost envelope."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    nd = d.agg(F.count("*").cast("long").alias("nd"))
    stats = (
        tf.groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("df1"),
            F.sum(F.when(F.col("tf") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("df2"),
        )
        .where(F.col("df1") >= _ADAPT_MIN_DF)
    )
    prior = F.col("df1") / F.col("nd").cast("double")
    adapt = F.col("df2") / F.col("df1").cast("double")
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "tok",
            "df1",
            "df2",
            F.round(prior, 6).alias("prior"),
            F.round(adapt, 6).alias("adaptation"),
            F.round(adapt / prior, 6).alias("adaptation_lift"),
        )
        .orderBy(F.col("adaptation").desc(), "tok")
        .limit(_ADAPT_TOPK)
    )


_BIN_T = 128


@query(
    "mm_image_perimeter_compactness",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    b AS (
        SELECT doc_id, w, h, x, y,
               CASE WHEN (x * 7 + y * 13 + doc_id) % 256 >= {_BIN_T}
                    THEN 1 ELSE 0 END AS v
        FROM px
    ),
    edges AS (
        SELECT doc_id,
               CAST(SUM(v) AS BIGINT) AS area,
               -- perimeter = fg-bg 4-adjacencies, counting the image
               -- border as background: 4*area - 2*(internal fg-fg pairs)
               CAST(SUM(CASE WHEN v = 1 AND x + 1 < w
                             AND ((x + 1) * 7 + y * 13 + doc_id) % 256
                                 >= {_BIN_T}
                        THEN 1 ELSE 0 END) AS BIGINT) AS hpairs,
               CAST(SUM(CASE WHEN v = 1 AND y + 1 < h
                             AND (x * 7 + (y + 1) * 13 + doc_id) % 256
                                 >= {_BIN_T}
                        THEN 1 ELSE 0 END) AS BIGINT) AS vpairs
        FROM b GROUP BY doc_id
    )
    SELECT doc_id, area,
           CAST(4 * area - 2 * (hpairs + vpairs) AS BIGINT) AS perimeter,
           ROUND(4 * PI() * area
                 / (CAST(4 * area - 2 * (hpairs + vpairs) AS DOUBLE)
                    * (4 * area - 2 * (hpairs + vpairs))), 6)
               AS compactness
    FROM edges WHERE area > 0
    """,
)
def mm_image_perimeter_compactness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Perimeter and isoperimetric compactness of the binarized image
    (the P^2/A shape factor, Cox 1927; standard in every binary-image
    toolbox, public): perimeter = count of foreground-background
    4-adjacent pixel edges (image border counts as background), via
    the identity P = 4*area - 2*(adjacent fg-fg pairs) — pure integer
    counting, no boundary tracing; compactness = 4*pi*A/P^2 is 1 for
    a disc and falls toward 0 for stringy shapes. With
    mm_image_euler_number (topology) this completes the classical
    binary-shape screen a vision ingest runs before featurization.

    Determinism: area and pair counts are exact integers; PI() and the
    one division round once (Spark and DuckDB share IEEE pi).

    Scale shape: mapInPandas numpy shifts per image, one row per
    image; the oracle re-derives pixels from the generator closed
    form."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def perim_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = (
                    np.frombuffer(pix, dtype=np.uint8).reshape(h, w)
                    >= _BIN_T
                ).astype(np.int64)
                area = int(img.sum())
                if area == 0:
                    continue
                hpairs = int((img[:, :-1] & img[:, 1:]).sum())
                vpairs = int((img[:-1, :] & img[1:, :]).sum())
                perim = 4 * area - 2 * (hpairs + vpairs)
                rows.append(
                    (
                        doc_id,
                        area,
                        perim,
                        round(
                            4 * float(np.pi) * area / (perim * perim), 6
                        ),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "area", "perimeter", "compactness"],
            )

    return payloads.mapInPandas(
        perim_batches,
        schema=(
            "doc_id long, area long, perimeter long, compactness double"
        ),
    )
