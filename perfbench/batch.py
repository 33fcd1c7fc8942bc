"""The closed-loop batch workload: one client runs whole passes over the
relational and LLM-pipeline query sets, in a seed-shuffled order, on seeded
fixture data.

Every query is first run once cold on the same data the timed passes use
and its result collected: the untimed correctness pass, which is also the
warm-up (JVM class loading, code generation, JIT). Timed passes then
materialize each query with the ``noop`` sink so the whole projection runs,
clearing Spark's cache between queries. The collected results are compared
with the DuckDB oracles only after the run, once memory is no longer
sampled, so the oracle's memory and time count in no metric.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time

import duckdb
import pyarrow as pa
import pyarrow.feather as feather

import datagen

ANALYTICS = (
    "agg_groupby tpch_q3 tpch_q5 tpch_q18 join_shuffle join_asof win_running_sum "
    "topk_per_group events_funnel agg_session_window_batch subquery_correlated agg_rollup"
).split()
LLM = (
    "dedup_minhash_lsh_exact dedup_exact dedup_embedding sim_cosine_topk sim_ivf_assign "
    "text_tokenize_wordcount text_filter_quality pipeline_training_corpus udf_quote "
    "ingest_records"
).split()
SF = 0.1
# Seeds cycle through this many generated datasets (the query order still
# follows the full seed). Each dataset's oracle results are computed once
# and reused, which keeps a run near 80 s instead of 105 s.
DATA_VARIANTS = 4


def layer_of(fn) -> str:
    """The engine layer a query function lives in: the package under
    ``data_ingestor_web_app_spark`` that defines it."""
    return fn.__module__.split(".")[1]


def _naive(tbl: pa.Table) -> pa.Table:
    """Drop the UTC zone Spark's Arrow export puts on timestamps (the
    session is pinned to UTC), so they compare with DuckDB's naive ones."""
    cols = []
    for field, col in zip(tbl.schema, tbl.columns):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            col = col.cast(pa.timestamp(field.type.unit))
        cols.append(col)
    return pa.table(cols, names=tbl.column_names)


def compare(con: duckdb.DuckDBPyConnection, got: pa.Table, want: pa.Table) -> str | None:
    """Order-insensitive exact comparison; None when equal, else why not.

    Columns are matched by name and compared as text, so 1 and 1.0 differ
    as they would in a value hash; multiset difference both ways catches
    lost, extra and duplicated rows."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns differ: {sorted(got.column_names)} vs {sorted(want.column_names)}"
    if got.num_rows != want.num_rows:
        return f"row count {got.num_rows} vs oracle {want.num_rows}"
    con.register("pb_got", _naive(got))
    con.register("pb_want", _naive(want))
    try:
        cols = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in sorted(got.column_names))
        diff = con.sql(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM pb_got EXCEPT ALL "
            f"SELECT {cols} FROM pb_want)), (SELECT count(*) FROM (SELECT {cols} "
            f"FROM pb_want EXCEPT ALL SELECT {cols} FROM pb_got))"
        ).fetchone()
    finally:
        con.unregister("pb_got")
        con.unregister("pb_want")
    if diff != (0, 0):
        return f"{diff[0]} rows not in oracle, {diff[1]} oracle rows missing"
    return None


def oracle(con: duckdb.DuckDBPyConnection, data: str, name: str) -> pa.Table:
    """The oracle's result over ``data``. It depends only on the data and the
    SQL text, so it is kept beside the data under the text's hash and
    computed once per dataset: the slowest oracle takes ~20 s."""
    from data_ingestor_web_app_spark import registry

    sql = registry.ORACLES[name]
    path = os.path.join(data, f"oracle-{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.arrow")
    if os.path.exists(path):
        return feather.read_table(path)
    want = con.sql(sql).arrow()
    feather.write_feather(want, path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def verify(collected: dict[str, str], data: str) -> list[str]:
    """Compare each collected result (an Arrow file) with its DuckDB oracle
    over the same parquet files; one line per mismatch."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    try:
        for name, path in collected.items():
            why = compare(con, feather.read_table(path), oracle(con, data, name))
            if why:
                bad.append(f"{name}: {why}")
    finally:
        con.close()
    return bad


def run(ctx, names: list[str]) -> dict:
    """Check pass, then timed passes until ``ctx.seconds`` have elapsed."""
    from data_ingestor_web_app_spark import registry

    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    variant = ctx.seed % DATA_VARIANTS
    data = datagen.generate(
        os.path.join(ctx.data_root, f"sf{SF}-v{variant}-{datagen.fingerprint()}"), SF, variant)
    out_dir = os.path.join(ctx.workdir, "collected")
    os.makedirs(out_dir)

    rng = random.Random(ctx.seed)
    attempted = failed = 0
    mismatches: list[str] = []
    collected: dict[str, str] = {}

    # untimed correctness pass; its Spark time is the warm-up
    warm_s = 0.0
    for name in rng.sample(names, len(names)):
        attempted += 1
        spark.catalog.clearCache()
        sc.setJobGroup(f"pbcheck:{name}", name)
        t0 = time.perf_counter()
        try:
            got = registry.QUERIES[name](spark, data).toArrow()
        except Exception as exc:  # noqa: BLE001 - a query failure is a measured outcome
            failed += 1
            mismatches.append(f"{name}: raised {type(exc).__name__}: {exc}")
            continue
        finally:
            warm_s += time.perf_counter() - t0
            tracer.add("warmup.query", t0, time.perf_counter(), trace=f"check:{name}")
        collected[name] = os.path.join(out_dir, f"{name}.arrow")
        feather.write_feather(got, collected[name])
        del got
    ctx.mark_warm(warm_s)

    # timed passes: closed loop, one client, whole passes
    runs: list[dict] = []
    t_start = time.perf_counter()
    n_pass = 0
    while n_pass == 0 or time.perf_counter() - t_start < ctx.seconds:
        n_pass += 1
        for name in rng.sample(names, len(names)):
            attempted += 1
            fn = registry.QUERIES[name]
            trace = f"q{n_pass}:{name}"
            spark.catalog.clearCache()
            sc.setJobGroup(f"pbtimed:{trace}", name)
            t0 = time.perf_counter()
            try:
                df = fn(spark, data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                failed += 1
                mismatches.append(f"{name}: raised {type(exc).__name__}: {exc}")
                continue
            t2 = time.perf_counter()
            runs.append({"name": name, "layer": layer_of(fn), "trace": trace,
                         "plan_s": t1 - t0, "exec_s": t2 - t1, "total_s": t2 - t0})
            root = tracer.add("query", t0, t2, trace=trace, query=name)
            tracer.add(f"{layer_of(fn)}.plan", t0, t1, parent=root, trace=trace)
            tracer.add(f"{layer_of(fn)}.exec", t1, t2, parent=root, trace=trace)
    elapsed = time.perf_counter() - t_start
    sc.setJobGroup("pbidle", "idle")

    if not runs:
        raise RuntimeError("no timed query completed: " + "; ".join(mismatches))
    done = [r["total_s"] * 1e3 for r in runs]
    # Query times differ by two orders of magnitude, so a percentile of one
    # pass lands in whichever gap between queries it falls; the geometric
    # mean weighs every query alike and moves smoothly.
    e2e = {
        "throughput_per_s": (len(runs), len(runs) / elapsed),
        "latency_ms": (len(done), math.exp(sum(math.log(d) for d in done) / len(done))),
    }
    return {
        "attempted": attempted, "failed": failed, "problems": mismatches,
        "e2e": e2e, "runs": runs, "verify": lambda: verify(collected, data),
        "notes": {"passes": n_pass, "queries": len(runs), "timed_s": elapsed,
                  "query_s": {r["name"]: r["total_s"] for r in runs}},
    }


def layer_metrics(result: dict, groups: dict[str, dict] | None, cores: int) -> dict[str, float]:
    """Per-layer figures of the timed passes: medians of Python-side plan
    and execution time per layer, per-query medians, and (with the Spark
    REST data of a traced run) jobs, tasks, bytes and busy share."""
    from statistics import median

    out: dict[str, float] = {}
    runs = result["runs"]
    for name in ANALYTICS + LLM:
        ts = [r["total_s"] for r in runs if r["name"] == name]
        out[f"query.{name}_s"] = median(ts) if ts else 0.0
    for key, layers in (("operators", {"operators"}), ("llm", {"llm", "ingest", "functions"})):
        mine = [r for r in runs if r["layer"] in layers]
        n = len(mine) or 1
        tot = _sum_groups(mine, groups)
        wall = sum(r["total_s"] for r in mine)
        out[f"{key}.plan_s"] = median(r["plan_s"] for r in mine) if mine else 0.0
        out[f"{key}.exec_s"] = median(r["exec_s"] for r in mine) if mine else 0.0
        out[f"{key}.jobs_per_query"] = tot["jobs"] / n
        out[f"{key}.busy_share"] = tot["run_ms"] / 1000.0 / (wall * cores) if wall else 0.0
        if key == "operators":
            out["operators.tasks_per_query"] = tot["tasks"] / n
            out["operators.shuffle_write_bytes"] = tot["shuffle_write"] / n
            out["operators.spill_bytes"] = tot["spill"] / n
            out["operators.gc_s"] = tot["gc_ms"] / 1000.0 / n
        else:
            out["llm.python_bytes_sent"] = tot["py_sent"] / n
            out["llm.python_bytes_received"] = tot["py_recv"] / n
    every = _sum_groups(runs, groups)
    out["io.bytes_read"] = every["input_bytes"] / len(runs)
    out["io.files_read"] = every["files_read"] / len(runs)
    return out


def _sum_groups(runs: list[dict], groups: dict[str, dict] | None) -> dict[str, float]:
    keys = ("jobs", "tasks", "run_ms", "gc_ms", "shuffle_write", "spill",
            "input_bytes", "files_read", "py_sent", "py_recv")
    got = [groups.get("pbtimed:" + r["trace"], {}) for r in runs] if groups else []
    return {k: sum(g.get(k, 0) for g in got) for k in keys}
