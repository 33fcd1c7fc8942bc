"""Wave-87: GLCM texture features over decoded PNGs, Markov stationary
distribution by unrolled power iteration in fixed-order arithmetic, and
the GROUP BY ALL / ORDER BY ALL SQL surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import register_views, table
from data_ingestor_web_app_spark.registry import query

# deterministic event-type order for the fixed-order pivot arithmetic
_STATES = ("click", "error", "purchase", "signup", "view")


@query(
    "mm_image_glcm",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, w, h, x, y,
               ((x * 7 + y * 13 + doc_id) % 256) // 32 AS lv
        FROM px
    ),
    pairs AS (
        SELECT a.doc_id, a.lv AS la, b.lv AS lb
        FROM vals a JOIN vals b
          ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
    ),
    cells AS (
        SELECT doc_id, la, lb, CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs GROUP BY doc_id, la, lb
    ),
    feat AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS total,
               CAST(SUM(c * (la - lb) * (la - lb)) AS BIGINT) AS contrast_num,
               CAST(SUM(c * c) AS BIGINT) AS energy_num,
               CAST(SUM(c * (840 / (1 + ABS(la - lb)))) AS BIGINT) AS homog_num
        FROM cells GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(contrast_num AS DOUBLE) / total AS contrast,
           CAST(energy_num AS DOUBLE) / total / total AS energy,
           CAST(homog_num AS DOUBLE) / 840 / total AS homogeneity
    FROM feat
    """,
)
def mm_image_glcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gray-level co-occurrence matrix texture features (Haralick 1973,
    public) per REAL decoded PNG: quantize to 8 gray levels, count
    horizontally adjacent level pairs, and report contrast, energy and
    homogeneity — the pre-CNN texture descriptors a multimodal ingest
    computes for cheap duplicate/quality screens.

    Determinism: every numerator stays integer — contrast weights
    (la-lb)² are integers, energy is Σc², and homogeneity is scaled by
    840 = lcm(1..8) so 840/(1+|la-lb|) is EXACTLY integer for all 8
    distances — one identical double-division chain at the end in both
    engines, emitted unrounded (kernel round() would be banker's).

    Scale shape: Arrow-batched mapInPandas (numpy shift + bincount per
    image), one row per image, zero shuffle; the relational
    neighbor-join formulation exists only in the oracle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def glcm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                lv = (np.frombuffer(pix, dtype=np.uint8).reshape(h, w) // 32).astype(
                    np.int64
                )
                la, lb = lv[:, :-1].ravel(), lv[:, 1:].ravel()
                c = np.bincount(la * 8 + lb, minlength=64)
                idx = np.arange(64)
                d = np.abs(idx // 8 - idx % 8)
                total = int(c.sum())
                contrast_num = int((c * d * d).sum())
                energy_num = int((c * c).sum())
                homog_num = int((c * (840 // (1 + d))).sum())
                # NO rounding: Python round() is banker's; the raw division
                # chains are bit-identical to the oracle's (NOTES_BUILD
                # mm_scene_cut_detect lesson)
                rows.append(
                    (
                        doc_id,
                        contrast_num / total,
                        energy_num / total / total,
                        homog_num / 840 / total,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "contrast", "energy", "homogeneity"]
            )

    return payloads.mapInPandas(
        glcm_batches,
        schema="doc_id long, contrast double, energy double, homogeneity double",
    )


def _markov_oracle() -> str:
    """Generate the oracle with the SAME fixed-order arithmetic as the
    Spark plan: transition probs pivot to one row of 25 columns, then
    three unrolled pi' = pi P updates as literal expressions."""
    st = _STATES
    pcols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN prev = '{a}' AND event_type = '{b}' THEN 1 ELSE 0 END) AS DOUBLE)"
        f" / NULLIF(SUM(CASE WHEN prev = '{a}' THEN 1 ELSE 0 END), 0) AS p_{i}_{j}"
        for i, a in enumerate(st)
        for j, b in enumerate(st)
    )
    def step(k: int) -> str:
        return ",\n               ".join(
            "("
            + " + ".join(f"pi{k - 1}_{i} * p_{i}_{j}" for i in range(len(st)))
            + f") AS pi{k}_{j}"
            for j in range(len(st))
        )
    pi0 = ", ".join(f"0.2 AS pi0_{i}" for i in range(len(st)))
    outs = ", ".join(
        f"ROUND(pi3_{i}, 6) AS pi_{s}" for i, s in enumerate(st)
    )
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    p AS (
        SELECT {pcols}
        FROM seq WHERE prev IS NOT NULL
    ),
    s0 AS (SELECT *, {pi0} FROM p),
    s1 AS (SELECT *, {step(1)} FROM s0),
    s2 AS (SELECT *, {step(2)} FROM s1),
    s3 AS (SELECT *, {step(3)} FROM s2)
    SELECT {outs} FROM s3
    """


@query("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user event-type Markov chain by
    three unrolled power-iteration steps from the uniform vector
    (pi' = pi P; Perron-Frobenius, public) — 'where do user journeys
    spend their time in the long run', the chain-level summary on top
    of events_markov_transitions (the matrix) and
    events_absorption_probability (absorbing targets).

    Determinism: the 5x5 transition matrix pivots into ONE row of 25
    columns via conditional aggregation (integer counts, one division
    each), and every pi update is a FIXED-ORDER five-term expression —
    no float aggregation over unordered groups anywhere, so both
    engines run bit-identical arithmetic; display rounds 6dp.

    Scale shape: the only data-scale work is the per-user LAG and the
    one conditional aggregate to 25 cells (map-side combined);
    iterations are plan depth over a single row — exactly how a
    K-state chain is powered at any corpus size."""
    seq = table(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    aggs = []
    for i, a in enumerate(_STATES):
        denom = F.sum(F.when(F.col("prev") == a, 1).otherwise(0))
        for j, b in enumerate(_STATES):
            num = F.sum(
                F.when((F.col("prev") == a) & (F.col("event_type") == b), 1).otherwise(0)
            )
            aggs.append(
                (num.cast("double") / F.nullif(denom, F.lit(0))).alias(f"p_{i}_{j}")
            )
    p = seq.where(F.col("prev").isNotNull()).agg(*aggs)
    cur = p.select("*", *[F.lit(0.2).alias(f"pi0_{i}") for i in range(len(_STATES))])
    for k in (1, 2, 3):
        cur = cur.select(
            "*",
            *[
                sum(
                    [
                        F.col(f"pi{k - 1}_{i}") * F.col(f"p_{i}_{j}")
                        for i in range(len(_STATES))
                    ][1:],
                    start=F.col(f"pi{k - 1}_0") * F.col(f"p_0_{j}"),
                ).alias(f"pi{k}_{j}")
                for j in range(len(_STATES))
            ],
        )
    return cur.select(
        *[F.round(F.col(f"pi3_{i}"), 6).alias(f"pi_{s}") for i, s in enumerate(_STATES)]
    )


@query(
    "sql_group_by_all",
    oracle="""
    SELECT n_name, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL (the analyst-ergonomics SQL surface
    both Spark 4 and DuckDB support, public syntax): the engine infers
    grouping keys from the non-aggregate select list and orders by the
    whole projection — proving the engine's SQL front door accepts the
    modern shorthand, with results identical to the explicit form.

    Determinism: integer cents and counts; ORDER BY ALL gives a total
    order over the output.

    Scale shape: identical plan to the explicit GROUP BY — the
    shorthand is resolved at analysis time, so pushdown/partial
    aggregation are unaffected."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        GROUP BY ALL
        ORDER BY ALL
        """
    )
