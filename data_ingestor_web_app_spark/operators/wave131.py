"""Wave-131: hive-partitioned source round-trip, keyword-in-context
concordance, and Kleinberg 2-state burst detection.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import scratch_dir, table
from data_ingestor_web_app_spark.registry import query


@query(
    "source_hive_partitioned",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(YEAR(o_orderdate) AS BIGINT) AS y,
           CAST(MONTH(o_orderdate) AS BIGINT) AS m
    FROM orders WHERE YEAR(o_orderdate) = 1995
    """,
)
def source_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition discovery: orders written as a two-level
    y=/m= directory tree, read back through the directory scan (partition
    columns recovered from pathnames, types inferred), filtered to one
    year. The filter targets ONLY partition columns, so the read plans a
    partition-pruned scan — 1/7th of the directories are ever listed,
    which at 100 TB is the difference between a metadata operation and a
    full-corpus pass (the plan test asserts PartitionFilters carries the
    predicate).

    Determinism: the round-trip carries exact ints/strings; partition
    values parse back to the integers that produced the paths."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
    )
    out = os.path.join(scratch_dir("hive_part_"), "orders")
    o.write.mode("overwrite").partitionBy("y", "m").parquet(out)
    back = spark.read.parquet(out)
    return back.where(F.col("y") == 1995).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("y").cast("long").alias("y"),
        F.col("m").cast("long").alias("m"),
    )


@query(
    "text_concordance_kwic",
    oracle="""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    df AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t)
        GROUP BY tok
    ),
    target AS (
        SELECT tok FROM df ORDER BY df DESC, tok LIMIT 1
    ),
    hits AS (
        SELECT doc_id, toks, p FROM (
            SELECT doc_id, toks, UNNEST(toks) AS tok,
                   GENERATE_SUBSCRIPTS(toks, 1) AS p
            FROM t
        ) x, target
        WHERE x.tok = target.tok
    )
    SELECT doc_id, CAST(p AS BIGINT) AS p,
           COALESCE(ARRAY_TO_STRING(toks[GREATEST(1, p - 3):p - 1], ' '), '')
               AS left_ctx,
           toks[p] AS kw,
           COALESCE(ARRAY_TO_STRING(toks[p + 1:p + 3], ' '), '') AS right_ctx
    FROM hits
    """,
)
def text_concordance_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance (the corpus linguist's KWIC view,
    public since Luhn 1960): pick the corpus's highest-df token
    (deterministic tie-break) and emit every occurrence with three
    tokens of left and right context — the inspection surface a data
    curator uses to audit how a term is actually used before writing a
    filter rule against it.

    Scale shape: df ranking is one map-side-combined groupBy; the
    1-row target broadcasts; context extraction is per-row array
    slicing (no shuffle beyond the explode of matching positions)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    dfr = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    target = dfr.orderBy(F.col("df").desc(), "tok").limit(1).select(
        F.col("tok").alias("kw_target")
    )
    hits = (
        toks.select("doc_id", "toks", F.posexplode("toks").alias("p0", "tok"))
        .join(F.broadcast(target), F.col("tok") == F.col("kw_target"))
        .select("doc_id", "toks", (F.col("p0") + 1).alias("p"))
    )
    left_start = F.greatest(F.lit(1), F.col("p") - 3)
    return hits.select(
        "doc_id",
        F.col("p").cast("long").alias("p"),
        F.array_join(
            F.slice("toks", left_start, F.col("p") - left_start), " "
        ).alias("left_ctx"),
        F.element_at("toks", F.col("p")).alias("kw"),
        F.array_join(F.slice("toks", F.col("p") + 1, 3), " ").alias("right_ctx"),
    )


_BURST_S = 2  # burst-state rate multiplier
_BURST_GAMMA = 1.0  # transition-cost coefficient (gamma * ln n)


@query(
    "events_burst_kleinberg",
    oracle="""
    WITH RECURSIVE seq AS MATERIALIZED (
        SELECT event_type, user_id,
               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    gaps AS MATERIALIZED (
        SELECT event_type, user_id, rn - 1 AS t,
               ts_ms - LAG(ts_ms) OVER (PARTITION BY event_type, user_id
                                        ORDER BY rn) AS x
        FROM seq
    ),
    g AS MATERIALIZED (SELECT event_type, user_id, t, x FROM gaps WHERE x IS NOT NULL),
    stats AS MATERIALIZED (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS tspan
        FROM g GROUP BY event_type, user_id HAVING SUM(x) > 0
    ),
    costs AS MATERIALIZED (
        SELECT g.event_type, g.user_id, g.t,
               CAST(ROUND(1000000 * (CAST(g.x * s.n AS DOUBLE) / s.tspan
                                     - LN(s.n * 1e0 / s.tspan)))
                    AS BIGINT) AS c0,
               CAST(ROUND(1000000 * (2.0 * CAST(g.x * s.n AS DOUBLE) / s.tspan
                                     - LN(2.0 * s.n / s.tspan)))
                    AS BIGINT) AS c1,
               CAST(ROUND(1000000 * {gamma} * LN(CAST(s.n AS DOUBLE)))
                    AS BIGINT) AS gcost,
               s.n
        FROM g JOIN stats s USING (event_type, user_id)
    ),
    sim AS (
        SELECT event_type, user_id, t, n, gcost,
               c0 AS d0, c1 + gcost AS d1,
               CASE WHEN c1 + gcost < c0 THEN 1 ELSE 0 END AS nb
        FROM costs WHERE t = 1
        UNION ALL
        SELECT c.event_type, c.user_id, c.t, c.n, c.gcost,
               c.c0 + LEAST(p.d0, p.d1) AS d0,
               c.c1 + LEAST(p.d0 + c.gcost, p.d1) AS d1,
               p.nb + CASE WHEN c.c1 + LEAST(p.d0 + c.gcost, p.d1)
                                < c.c0 + LEAST(p.d0, p.d1)
                           THEN 1 ELSE 0 END AS nb
        FROM sim p
        JOIN costs c ON c.event_type = p.event_type
                    AND c.user_id = p.user_id AND c.t = p.t + 1
    ),
    final AS (SELECT * FROM sim WHERE t = n)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_series,
           CAST(SUM(n) AS BIGINT) AS n_gaps,
           CAST(SUM(LEAST(d0, d1)) AS BIGINT) AS total_cost_micro,
           CAST(SUM(nb) AS BIGINT) AS n_burst_steps,
           CAST(MAX(nb) AS BIGINT) AS max_burst_steps
    FROM final GROUP BY event_type
    """.format(gamma=_BURST_GAMMA),
)
def events_burst_kleinberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg 2-state burst detection (Kleinberg, KDD 2002, "Bursty
    and Hierarchical Structure in Streams", public): per (event type,
    user) gap series, a 2-state automaton — base rate n/T vs burst rate
    2n/T — with per-gap costs -ln f_i(x) and an upward transition cost
    gamma·ln n; the min-cost DP frontier (d0, d1) folds over each
    series, then per-type summaries aggregate the exact per-series
    results (series count, total min cost, burst-dominated step counts).
    (The Viterbi backtrace is a reverse second pass over the same
    frontier; the forward fold is the distributed-cost part.)

    Determinism: per-gap costs and the transition cost collapse to one
    rounded double chain each (exact-integer inputs x·n, T, n) —
    floor(v+0.5) matches SQL ROUND's half-away — so the whole DP runs in
    exact BIGINT micro-nats; the oracle's recursive CTE replays every
    series step for step. Series granularity keeps the recursion depth
    at the max PER-USER event count (tens), not the per-type total
    (thousands) — the same depth bound events_rate_limit's oracle relies
    on.

    Scale shape: sequential per series, embarrassingly parallel across
    (type, user) groups — the admission-control contract; state is two
    scalars per series."""
    import math

    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id",
        F.unix_millis("ts").alias("ts_ms"),
    )
    # r11 (guide §2.3/§4.1): the old groupBy().applyInPandas shipped every
    # event row across the Python boundary and paid pandas group-machinery
    # per (type, user) series; the gap series is now assembled JVM-side
    # (sort_array(collect_list) + a transform diff — the same (ts_ms,
    # event_id) ascending order the pandas sort used), so Python sees ONE
    # row per series via mapInPandas, with the identical int64 gap values
    # feeding the identical numpy cost chains and DP loop.
    seqs = (
        e.groupBy("event_type", "user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts_ms", "event_id"))
            ).alias("seq")
        )
        .where(F.size("seq") >= 2)
        .select(
            "event_type",
            F.expr(
                "transform(slice(seq, 2, size(seq) - 1),"
                " (s, k) -> s.ts_ms - seq[k].ts_ms)"
            ).alias("x"),
        )
    )

    def fold_series(x) -> tuple | None:
        x = np.asarray(x, dtype=np.int64)
        n = int(len(x))
        tspan = int(x.sum())
        if tspan <= 0:
            return None
        # per-gap costs in exact micro-nats (same chains as the oracle;
        # floor(v+0.5) = SQL ROUND's half-away for these positive costs —
        # np.rint would round half-even and flip exact-.5 boundaries)
        c0 = np.floor(1e6 * ((x * n).astype(np.float64) / tspan
                             - math.log(n * 1e0 / tspan)) + 0.5).astype(np.int64)
        c1 = np.floor(1e6 * (2.0 * (x * n).astype(np.float64) / tspan
                             - math.log(2.0 * n / tspan)) + 0.5).astype(np.int64)
        g = int(round(1e6 * _BURST_GAMMA * math.log(float(n))))
        d0, d1 = int(c0[0]), int(c1[0]) + g
        nb = 1 if d1 < d0 else 0
        for t in range(1, n):
            nd0 = int(c0[t]) + min(d0, d1)
            nd1 = int(c1[t]) + min(d0 + g, d1)
            d0, d1 = nd0, nd1
            if d1 < d0:
                nb += 1
        return n, min(d0, d1), nb

    def fold_batches(batches):
        for pdf in batches:
            out = {"event_type": [], "n": [], "cost_micro": [], "nb": []}
            for et, xs in zip(pdf["event_type"], pdf["x"]):
                r = fold_series(xs)
                if r is None:
                    continue
                out["event_type"].append(et)
                out["n"].append(r[0])
                out["cost_micro"].append(r[1])
                out["nb"].append(r[2])
            yield pd.DataFrame(out).astype(
                {"n": "int64", "cost_micro": "int64", "nb": "int64"}
            )

    per_series = seqs.mapInPandas(
        fold_batches, "event_type string, n long, cost_micro long, nb long"
    )
    return per_series.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_series"),
        F.sum("n").cast("long").alias("n_gaps"),
        F.sum("cost_micro").cast("long").alias("total_cost_micro"),
        F.sum("nb").cast("long").alias("n_burst_steps"),
        F.max("nb").cast("long").alias("max_burst_steps"),
    )
