"""Scale probe: replicate the sf0.1 fixtures N× into temp parquet (never
touching /root/testdata) and re-run headline queries — evidence that the
plans scale superlinearly-safe: time should grow ~linearly with data while
the plan shape (broadcasts, pushdown, partial aggs) stays identical.

Run: python tools/scale_probe.py [--mult 16]   → prints one JSON line
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path
import tempfile
import time

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from data_ingestor_web_app_spark import registry
from data_ingestor_web_app_spark.io import TABLES, table
from data_ingestor_web_app_spark.session import get_spark

PROBES = [
    "agg_groupby", "scan_pruned", "join_shuffle", "join_multiway",
    "topk_per_group", "tpch_q6",
    # round 2: fact-table-heavy additions (documents/embeddings are dims
    # here — not replicated — so LLM ops are excluded from the probe)
    "tpch_q5", "tpch_q10", "upsert_scd1",
    "events_ohlc_downsample", "events_pattern_detect",
    # wave 8-11: per-key-linear shapes only. Pair-generating ops
    # (attribution, point-in-time) are excluded: the replication scheme
    # multiplies per-user/per-customer DENSITY (keys are not shifted), so
    # their candidate sets grow quadratically under the probe — a
    # replication artifact, not how 16x more real-world keys would behave.
    "events_top_paths", "agg_bitmap_distinct", "agg_equidepth_histogram",
    "dq_expectations",
    # round 3: per-key-linear shapes (join_asof_forward and
    # join_interval_overlap are density-quadratic under replication and
    # excluded for the same reason as attribution)
    "agg_session_window_batch", "snapshot_diff", "upsert_merge_actions",
    "agg_ks_test", "agg_rfm_segments", "events_mau_28d_bitmap",
    # round 8: the global-window rework patterns under 16x volume —
    # distinct-value collapse (palma: value alphabet constant, counts
    # scale), sharded prefix rank (gains_table: rank-within-value +
    # offsets), and the double-collapse Spearman (two small rank joins)
    "agg_palma_ratio", "model_gains_table", "agg_spearman_rho",
    # round 11 (VERDICT r10 item 8): the newest quadratic-LOOKING shelf —
    # each collapses to a bounded grid FIRST (24-hour grid, daily
    # calendar, <=32x32 behaviour cells), so the (i,j,k)/pair stages run
    # on constant-size frames and measured wall should stay ~linear in
    # corpus volume. Probed to prove the documented scale shape, not
    # assume it.
    "model_isotonic_pava", "events_seasonal_decompose", "spatial_ripley_k",
]


def replicate(spark, src_sf: str, mult: int) -> str:
    """Fact tables replicated mult× with shifted keys (so join fan-out and
    group cardinalities scale realistically); dims copied as-is."""
    out = tempfile.mkdtemp(prefix=f"scale_x{mult}_")
    key_shift = {
        "lineitem": ("l_orderkey", 10_000_000),
        "orders": ("o_orderkey", 10_000_000),
        "events": ("event_id", 10_000_000),
    }
    for name in TABLES:
        df = table(spark, src_sf, name)
        if name in key_shift:
            col, stride = key_shift[name]
            copies = [
                df.withColumn(col, F.col(col) + F.lit(i * stride)) for i in range(mult)
            ]
            big = copies[0]
            for c in copies[1:]:
                big = big.unionByName(c)
            big.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        else:
            df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    return out


# LLM/vector probes run against a SYNTHESIZED mult× corpus (new ids,
# isomorphic-but-divergent content — see synth_llm), because naive
# replication would either create mult²-quadratic duplicate clusters
# (copied text/vectors are exact dups of each other) or vacuously copy
# the tables as dims.
LLM_PROBES = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_lsh_exact",
    "dedup_embedding", "sim_knn_graph", "sim_ivf_topk", "text_gopher_rules",
    # round-6 session additions: doc-partitioned span union (linear),
    # cell-local LOF (sum of cell^2 — cells multiply, cell size constant
    # under the synth => linear), contingency-table validity (linear scan
    # + k^2 tail). sim_silhouette_simplified is EXCLUDED: the synth grows
    # the label count ×mult, so its n*k centroid scan is mult^2 by
    # construction — a synth artifact, not a plan property.
    "pipeline_dupngram_char_coverage", "sim_lof_bucketed",
    "sim_cluster_validity",
]


def synth_llm(spark, src_sf: str, mult: int) -> str:
    """Documents/embeddings synthesized mult× larger with preserved
    internal structure and suppressed cross-copy similarity.

    documents: copy i renames ~20% of tokens (hash-seeded per copy) —
    a token-alphabet isomorphism, so every within-copy Jaccard is EXACTLY
    preserved (shared tokens rename identically, set sizes unchanged)
    while cross-copy Jaccard drops to ~0.67 < the 0.77 LSH threshold:
    near-dup pairs scale ×mult, not ×mult².

    embeddings: copy i applies a seeded coordinate permutation + sign
    flip — an orthogonal transform, so every within-copy dot product,
    norm, and cosine is EXACTLY preserved while cross-copy cosines are
    scrambled toward 0; labels shift per copy so the IVF codebook grows
    ×mult like a real corpus's partition count would.

    Relational tables are copied as-is (unused dims for these ops)."""
    import random

    out = tempfile.mkdtemp(prefix=f"llm_x{mult}_")
    docs = table(spark, src_sf, "documents")
    emb = table(spark, src_sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])

    doc_copies, emb_copies = [], []
    for i in range(mult):
        if i == 0:
            doc_copies.append(docs)
            emb_copies.append(emb)
            continue
        renamed = F.array_join(
            F.expr(
                f"transform(split(text, ' '), "
                f"t -> if(pmod(xxhash64(t, {i}), 5) = 0, concat(t, '_r{i}'), t))"
            ),
            " ",
        )
        doc_copies.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                renamed.alias("text"),
                "lang",
                "source",
                F.length(renamed).cast("long").alias("n_chars"),
            )
        )
        rng = random.Random(7_000 + i)
        perm = list(range(dim))
        rng.shuffle(perm)
        signs = [rng.choice((-1.0, 1.0)) for _ in range(dim)]
        emb_copies.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                F.array(
                    *[
                        (F.col("embedding")[perm[j]] * F.lit(signs[j])).cast("float")
                        for j in range(dim)
                    ]
                ).alias("embedding"),
                (F.col("label") + F.lit(i * 1000)).alias("label"),
            )
        )

    big_docs = doc_copies[0]
    for c in doc_copies[1:]:
        big_docs = big_docs.unionByName(c)
    big_emb = emb_copies[0]
    for c in emb_copies[1:]:
        big_emb = big_emb.unionByName(c)
    big_docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    big_emb.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    for name in TABLES:
        if name in ("documents", "embeddings"):
            continue
        table(spark, src_sf, name).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
    return out


def replicate_skewed(spark, src_sf: str, mult: int, hot_pct: int = 20) -> tuple[str, int]:
    """Like replicate(), but Zipf-headed: in EVERY lineitem copy, hot_pct%
    of rows are remapped to ONE hot orderkey (chosen to survive
    join_shuffle's o_totalprice filter), so at mult=16 a single join/agg
    key holds ~hot_pct% of a 16x fact table — the power-law head that
    makes naive shuffles straggle. Orders copies keep the same key shift
    as the uniform probe so the non-hot tail still joins 1:1."""
    out = tempfile.mkdtemp(prefix=f"skewed_x{mult}_")
    hot = (
        table(spark, src_sf, "orders")
        .where(F.col("o_totalprice") > 400000)
        .agg(F.max("o_orderkey"))
        .first()[0]
    )
    if hot is None:
        # tiny fixtures may have no order over the threshold — fall back to
        # the global max key so the probe still concentrates a real hot key
        # instead of silently writing NULL l_orderkey
        hot = table(spark, src_sf, "orders").agg(F.max("o_orderkey")).first()[0]
    assert hot is not None, "orders table is empty"
    stride = 10_000_000
    for name in TABLES:
        df = table(spark, src_sf, name)
        if name == "lineitem":
            copies = []
            for i in range(mult):
                is_hot = (
                    F.pmod(F.xxhash64("l_orderkey", "l_linenumber", F.lit(i)), F.lit(100))
                    < hot_pct
                )
                copies.append(
                    df.withColumn(
                        "l_orderkey",
                        F.when(is_hot, F.lit(hot)).otherwise(
                            F.col("l_orderkey") + F.lit(i * stride)
                        ),
                    )
                )
        elif name in ("orders", "events"):
            col = {"orders": "o_orderkey", "events": "event_id"}[name]
            copies = [
                df.withColumn(col, F.col(col) + F.lit(i * stride)) for i in range(mult)
            ]
        else:
            df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
            continue
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        big.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    return out, hot


def synth_boilerplate_docs(spark, src_sf: str, depth: int = 10_000) -> str:
    """documents ∪ ONE document repeated `depth` times under fresh doc_ids —
    the 10^4-deep boilerplate cluster real crawl corpora carry. The
    minhash-LSH exact-dup collapse must reduce it to ONE LSH node (linear
    candidate generation); only the final membership expansion materializes
    the C(depth,2) within-pairs."""
    out = tempfile.mkdtemp(prefix=f"boiler_{depth}_")
    docs = table(spark, src_sf, "documents")
    chosen = docs.orderBy("doc_id").limit(1)
    clones = (
        chosen.crossJoin(spark.range(depth).select(F.col("id").alias("__i")))
        .select(
            (F.lit(90_000_000) + F.col("__i")).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    docs.unionByName(clones).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    for name in TABLES:
        if name == "documents":
            continue
        table(spark, src_sf, name).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
    return out


def synth_skewed_embeddings(
    spark, src_sf: str, mult: int, hot_frac: float = 0.3
) -> str:
    """embeddings/documents replicated mult× with fresh ids; with
    hot_frac > 0, that fraction of every clone copy is remapped onto ONE
    IVF cell — embedding := the hot label's centroid with a tiny
    deterministic per-row/per-dim jitter, label := the hot label — so one
    posting list owns ~hot_frac of the corpus (the shifted-cluster skew a
    crawl+embed pipeline produces when boilerplate dominates). hot_frac=0
    gives the uniform twin for the A/B. Other tables copied as-is."""
    out = tempfile.mkdtemp(prefix=f"vecskew_x{mult}_{int(hot_frac*100)}_")
    e = table(spark, src_sf, "embeddings")
    d = table(spark, src_sf, "documents")
    hot_label = e.agg(F.min("label")).first()[0]
    cvec = [
        float(r.cx)
        for r in e.where(F.col("label") == hot_label)
        .select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("cx"))
        .orderBy("i")
        .collect()
    ]
    cent_arr = F.array(*[F.lit(v) for v in cvec])
    stride = 10_000_000
    e_copies, d_copies = [], []
    for i in range(mult):
        ec = e.select(
            (F.col("vec_id") + stride * i).alias("vec_id"), "embedding", "label"
        )
        if hot_frac > 0 and i > 0:
            is_hot = (
                F.pmod(F.xxhash64("vec_id", F.lit(i)), F.lit(1000))
                < int(hot_frac * 1000)
            )
            jitter = F.transform(
                cent_arr,
                lambda x, j: (
                    x
                    * (
                        1.0
                        + (
                            F.pmod(F.col("vec_id") * 31 + j.cast("long"), F.lit(101))
                            - 50
                        ).cast("double")
                        * 1e-5
                    )
                ).cast("float"),
            )
            ec = ec.select(
                "vec_id",
                F.when(is_hot, jitter).otherwise(F.col("embedding")).alias(
                    "embedding"
                ),
                F.when(is_hot, F.lit(hot_label)).otherwise(F.col("label")).alias(
                    "label"
                ),
            )
        e_copies.append(ec)
        d_copies.append(
            d.select(
                (F.col("doc_id") + stride * i).alias("doc_id"),
                *[c for c in d.columns if c != "doc_id"],
            )
        )
    ecat, dcat = e_copies[0], d_copies[0]
    for ec in e_copies[1:]:
        ecat = ecat.unionByName(ec)
    for dc in d_copies[1:]:
        dcat = dcat.unionByName(dc)
    ecat.repartition(32).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    dcat.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    for name in TABLES:
        if name in ("embeddings", "documents"):
            continue
        table(spark, src_sf, name).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
    return out


def run_vecskew_probe(args) -> None:
    """VERDICT r6 item 8: hot-cell skew for the vector family. Measures
    dedup_embedding + sim_ivf_topk on a uniform mult× corpus vs the same
    corpus with one IVF cell owning ~30% of vectors; gate: worst task
    max/median < 4 (AQE skew-split must absorb the hot posting list)."""
    registry.load_all()
    spark = get_spark(
        "scale-probe-vecskew", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    uniform_dir = synth_skewed_embeddings(spark, args.src, args.mult, 0.0)
    skew_dir = synth_skewed_embeddings(spark, args.src, args.mult, 0.3)
    probes = ["dedup_embedding", "sim_ivf_topk"]

    def timed(name: str, sf_dir: str) -> tuple[float, int]:
        t0 = time.perf_counter()
        n = registry.QUERIES[name](spark, sf_dir).count()
        return round(time.perf_counter() - t0, 3), n

    timed("sim_ivf_topk", args.src)  # warm
    uniform = {n: timed(n, uniform_dir) for n in probes}
    skew_times, task_skew = {}, {}
    for n in probes:
        stage_floor = _max_stage_id(spark)
        skew_times[n] = timed(n, skew_dir)
        task_skew[n] = _task_skew_from_rest(spark, stage_floor + 1)

    print(
        json.dumps(
            {
                "mult": args.mult,
                "hot_frac": 0.3,
                "uniform_sec_rows": uniform,
                "skewed_sec_rows": skew_times,
                "wall_ratio": {
                    n: round(skew_times[n][0] / max(uniform[n][0], 1e-9), 2)
                    for n in probes
                },
                "task_skew_max_over_median": task_skew,
                "note": (
                    "one IVF cell owns ~30% of a "
                    f"{args.mult}x corpus; gate: task max/median < 4 "
                    "(AQE skew-join absorbing the hot posting list); "
                    "dedup_embedding's output grows ~C(0.3N,2) because the "
                    "hot cluster IS near-duplicate — real pairs, not waste"
                ),
            }
        )
    )


def _task_skew_from_rest(
    spark, min_stage_id: int, min_tasks: int = 8, min_max_ms: float = 200.0
) -> dict:
    """Worst max/median executorRunTime ratio across the stages (with >=
    min_tasks tasks) run since min_stage_id, via the UI REST API — the
    straggler metric: AQE skew-split / salting is working iff the hot key
    does NOT become one task 4x slower than its stage's median."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages?status=COMPLETE")
    )
    worst = {"ratio": 0.0, "stage": None, "median_ms": None, "max_ms": None}
    for st in stages:
        sid = st["stageId"]
        if sid < min_stage_id or st.get("numCompleteTasks", 0) < min_tasks:
            continue
        try:
            summ = json.load(
                urllib.request.urlopen(
                    f"{base}/api/v1/applications/{app_id}/stages/{sid}/"
                    f"{st['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )
            )
        except Exception:
            continue
        med, mx = summ["executorRunTime"]
        if mx < min_max_ms:
            continue  # millisecond-noise stages: a 7ms "straggler" over a
            # 1ms median is scheduler jitter, not skew — only stages with
            # real work can evidence a hot-key straggler
        if med <= 0:
            med = 1.0
        ratio = mx / med
        if ratio > worst["ratio"]:
            worst = {
                "ratio": round(ratio, 2),
                "stage": sid,
                "median_ms": med,
                "max_ms": mx,
                "n_tasks": st["numCompleteTasks"],
            }
    return worst


def run_skew_probe(args) -> None:
    registry.load_all()
    spark = get_spark(
        "scale-probe-skew", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    uniform_dir = replicate(spark, args.src, args.mult)
    skew_dir, hot = replicate_skewed(spark, args.src, args.mult)
    boiler_dir = synth_boilerplate_docs(spark, args.src, depth=args.depth)

    probes = ["join_shuffle", "agg_salted_twophase", "agg_groupby"]

    def timed(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        registry.QUERIES[name](spark, sf_dir).count()
        return round(time.perf_counter() - t0, 3)

    timed("agg_groupby", uniform_dir)  # warm
    uniform = {n: timed(n, uniform_dir) for n in probes}

    skew_times, task_skew = {}, {}
    for n in probes:
        stage_floor = _max_stage_id(spark)
        skew_times[n] = timed(n, skew_dir)
        task_skew[n] = _task_skew_from_rest(spark, stage_floor + 1)

    t0 = time.perf_counter()
    base_pairs = registry.QUERIES["dedup_minhash_lsh"](spark, args.src).count()
    base_lsh = round(time.perf_counter() - t0, 3)
    stage_floor = _max_stage_id(spark)
    t0 = time.perf_counter()
    boiler_pairs = registry.QUERIES["dedup_minhash_lsh"](spark, boiler_dir).count()
    boiler_lsh = round(time.perf_counter() - t0, 3)
    lsh_task_skew = _task_skew_from_rest(spark, stage_floor + 1)

    print(
        json.dumps(
            {
                "mult": args.mult,
                "hot_orderkey": hot,
                "uniform_sec": uniform,
                "skewed_sec": skew_times,
                "wall_ratio": {
                    n: round(skew_times[n] / max(uniform[n], 1e-9), 2) for n in probes
                },
                "task_skew_max_over_median": {
                    n: task_skew[n] for n in probes
                },
                "boilerplate": {
                    "depth": args.depth,
                    "base_sec": base_lsh,
                    "boiler_sec": boiler_lsh,
                    "base_pairs": base_pairs,
                    "boiler_pairs": boiler_pairs,
                    "expected_extra_pairs": args.depth * (args.depth - 1) // 2,
                    "task_skew": lsh_task_skew,
                },
                "note": (
                    "skewed fixture: one orderkey holds ~20% of a "
                    f"{args.mult}x lineitem; gate: task max/median < 4 and "
                    "wall_ratio bounded (AQE skew-join + salting working)"
                ),
            }
        )
    )


def replicate_hotkey_window(
    spark, src_sf: str, mult: int, hot_pct: int = 30
) -> tuple[str, int, int]:
    """Window-family skew twin (VERDICT r7 item 7): events replicated mult×
    where hot_pct% of EVERY copy's rows are remapped to ONE hot user_id,
    and orders likewise to ONE hot o_custkey — so per-key window operators
    (running sums, sessionization, per-group top-k) face a single window
    partition owning ~hot_pct% of a mult× fact table. event_id/o_orderkey
    keep the uniform probe's per-copy shift so row identity stays unique."""
    out = tempfile.mkdtemp(prefix=f"winskew_x{mult}_")
    hot_user = table(spark, src_sf, "events").agg(F.max("user_id")).first()[0]
    hot_cust = table(spark, src_sf, "orders").agg(F.max("o_custkey")).first()[0]
    stride = 10_000_000
    for name in TABLES:
        df = table(spark, src_sf, name)
        if name == "events":
            copies = [
                df.withColumn("event_id", F.col("event_id") + F.lit(i * stride))
                .withColumn(
                    "user_id",
                    F.when(
                        F.pmod(F.xxhash64("event_id", F.lit(i)), F.lit(100))
                        < hot_pct,
                        F.lit(hot_user),
                    ).otherwise(F.col("user_id")),
                )
                for i in range(mult)
            ]
        elif name == "orders":
            copies = [
                df.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * stride))
                .withColumn(
                    "o_custkey",
                    F.when(
                        F.pmod(F.xxhash64("o_orderkey", F.lit(i)), F.lit(100))
                        < hot_pct,
                        F.lit(hot_cust),
                    ).otherwise(F.col("o_custkey")),
                )
                for i in range(mult)
            ]
        else:
            df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
            continue
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        big.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    return out, hot_user, hot_cust


WINDOW_SKEW_PROBES = ["win_running_sum", "topk_per_group", "agg_session_window_batch"]


def run_window_skew_probe(args) -> None:
    """VERDICT r7 item 7: the window family under a 30%-hot-key twin.
    Joins/aggs/LSH/vectors are skew-probed; this adds per-key window
    operators. Forcing uses sum(hash(all cols)) so column pruning cannot
    delete the window under a bare count()."""
    registry.load_all()
    spark = get_spark(
        "scale-probe-winskew", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    uniform_dir = replicate(spark, args.src, args.mult)
    skew_dir, hot_user, hot_cust = replicate_hotkey_window(
        spark, args.src, args.mult
    )

    def timed(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, sf_dir)
        df.agg(
            F.sum(F.hash(*[F.col(c) for c in df.columns]).cast("long"))
        ).collect()
        return round(time.perf_counter() - t0, 3)

    timed("win_running_sum", uniform_dir)  # warm
    uniform = {n: timed(n, uniform_dir) for n in WINDOW_SKEW_PROBES}
    skew_times, task_skew = {}, {}
    for n in WINDOW_SKEW_PROBES:
        stage_floor = _max_stage_id(spark)
        skew_times[n] = timed(n, skew_dir)
        task_skew[n] = _task_skew_from_rest(spark, stage_floor + 1)

    print(
        json.dumps(
            {
                "mult": args.mult,
                "hot_user": hot_user,
                "hot_custkey": hot_cust,
                "uniform_sec": uniform,
                "skewed_sec": skew_times,
                "wall_ratio": {
                    n: round(skew_times[n] / max(uniform[n], 1e-9), 2)
                    for n in WINDOW_SKEW_PROBES
                },
                "task_skew_max_over_median": task_skew,
                "note": (
                    "skewed fixture: one user_id / o_custkey holds ~30% of a "
                    f"{args.mult}x fact table; gate: task max/median < 4"
                ),
            }
        )
    )


def _max_stage_id(spark) -> int:
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    try:
        stages = json.load(
            urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages")
        )
        return max((s["stageId"] for s in stages), default=-1)
    except Exception:
        return -1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=16)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--llm", action="store_true",
        help="probe the LLM/vector ops against a synthesized mult× corpus",
    )
    ap.add_argument(
        "--skew", action="store_true",
        help="probe hot-key skew: Zipf-headed join/agg fixtures + a deep "
        "boilerplate duplicate cluster",
    )
    ap.add_argument("--depth", type=int, default=10_000,
                    help="boilerplate cluster depth for --skew")
    ap.add_argument(
        "--vecskew", action="store_true",
        help="probe hot-IVF-cell skew for the embedding family",
    )
    ap.add_argument(
        "--winskew", action="store_true",
        help="probe hot-key skew for the per-key window family",
    )
    ap.add_argument(
        "--only", default=None,
        help="comma-separated subset of PROBES to run (incremental probing "
        "of newly added ops without re-timing the whole shelf)",
    )
    args = ap.parse_args()

    if args.only:
        subset = [n for n in args.only.split(",") if n]
        unknown = [n for n in subset if n not in PROBES]
        if unknown:
            raise SystemExit(f"--only names not in PROBES: {unknown}")
        PROBES[:] = subset

    if args.skew:
        run_skew_probe(args)
        return

    if args.winskew:
        run_window_skew_probe(args)
        return

    if args.vecskew:
        run_vecskew_probe(args)
        return

    if args.llm:
        registry.load_all()
        spark = get_spark("scale-probe-llm")
        spark.sparkContext.setLogLevel("ERROR")
        big_dir = synth_llm(spark, args.src, args.mult)
        n_docs = spark.read.parquet(f"{big_dir}/documents.parquet").count()
        n_vecs = spark.read.parquet(f"{big_dir}/embeddings.parquet").count()

        def timed_llm(name: str, sf_dir: str) -> tuple[float, int]:
            t0 = time.perf_counter()
            n = registry.QUERIES[name](spark, sf_dir).count()
            return round(time.perf_counter() - t0, 3), n

        timed_llm("dedup_exact", args.src)  # warm
        base = {n: timed_llm(n, args.src) for n in LLM_PROBES}
        big = {n: timed_llm(n, big_dir) for n in LLM_PROBES}
        print(
            json.dumps(
                {
                    "mult": args.mult,
                    "documents_rows": n_docs,
                    "embeddings_rows": n_vecs,
                    "base_sec": {n: v[0] for n, v in base.items()},
                    "scaled_sec": {n: v[0] for n, v in big.items()},
                    "base_rows": {n: v[1] for n, v in base.items()},
                    "scaled_rows": {n: v[1] for n, v in big.items()},
                    "time_ratio": {
                        n: round(big[n][0] / max(base[n][0], 1e-9), 1)
                        for n in LLM_PROBES
                    },
                    "rows_ratio": {
                        n: round(big[n][1] / max(base[n][1], 1), 1)
                        for n in LLM_PROBES
                    },
                    "note": (
                        f"corpus x{args.mult} (synthesized, isomorphic copies); "
                        "linear ops ideal time ratio <= mult; sim_knn_graph cost "
                        "model is O(N^1.5) => ideal ratio ~ mult^1.5"
                    ),
                }
            )
        )
        return

    registry.load_all()
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    big_dir = replicate(spark, args.src, args.mult)
    n_li = spark.read.parquet(f"{big_dir}/lineitem.parquet").count()

    def timed(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        registry.QUERIES[name](spark, sf_dir).count()
        return round(time.perf_counter() - t0, 3)

    # warm both paths
    timed("agg_groupby", args.src)
    base = {n: timed(n, args.src) for n in PROBES}
    big = {n: timed(n, big_dir) for n in PROBES}
    ratios = {n: round(big[n] / max(base[n], 1e-9), 1) for n in PROBES}
    print(
        json.dumps(
            {
                "mult": args.mult,
                "lineitem_rows": n_li,
                "base_sec": base,
                "scaled_sec": big,
                "time_ratio": ratios,
                "note": f"data x{args.mult}, ideal time ratio <= {args.mult} (sublinear = overheads amortizing)",
            }
        )
    )


if __name__ == "__main__":
    main()
