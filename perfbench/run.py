"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_sf01 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` is a separate run of the same workload
with the Spark UI on, which prints the per-layer metrics instead and writes
its spans to ``.perfbench_runs/``. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it gives
the run's context, sample counts and failures. Exits non-zero, without a
result line, when the engine package is missing or an output is wrong.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here, before heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
sys.path.insert(0, HERE)

WORKLOADS = ("ingest_tcp", "batch_sf01")


def load_context(seed: int) -> dict:
    """Box load at a point in time (the loadavg/procs_running pattern of
    the repository's bench.py), CPU tick counters, the core count and the
    seed."""
    la1, la5, la15 = os.getloadavg()
    procs_running, ticks = None, []
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    ticks = [int(x) for x in line.split()[1:]]
                elif line.startswith("procs_running"):
                    procs_running = int(line.split()[1])
    except OSError:
        pass
    return {"loadavg_1m": la1, "loadavg_5m": la5, "loadavg_15m": la15,
            "procs_running": procs_running, "nproc": len(os.sched_getaffinity(0)), "seed": seed,
            "cpu_ticks": ticks}


def steal_frac(start: list[int], end: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests during the run
    (the eighth /proc/stat counter), a direct view of outside contention."""
    if len(start) < 8 or len(end) < 8:
        return None
    total = sum(end) - sum(start)
    return (end[7] - start[7]) / total if total else None


def git_commit() -> str | None:
    """The checked-out commit when the checkout is a git repository."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


class Context:
    """What a workload gets from the harness: the session, the tracer and
    memory sampler, its directories, and where to report warm-up time."""

    def __init__(self, args, spark, tracer, rss, workdir: str):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.spark, self.tracer, self.rss = spark, tracer, rss
        self.workdir, self.data_root = workdir, os.path.join(RUNS, "data")
        self.warm_s = 0.0

    def mark_warm(self, seconds: float) -> None:
        self.warm_s = seconds


def stop_all(spark) -> None:
    """Stop the session and its JVM, then wait until every process this
    run started (the Python workers too) has ended."""
    from tracer import tree

    pids = set(tree(os.getpid())) - {os.getpid()}
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "data_ingestor_web_app_spark", "session.py")):
        print(f"engine package data_ingestor_web_app_spark not found under {ROOT}", file=sys.stderr)
        return 2

    workdir = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    # everything the engine and its JVM write stays inside the checkout
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(workdir, "scratch"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)

    import batch
    import ingest
    from spec import E2E, PER_LAYER
    from tracer import RssSampler, SparkRest, Tracer

    tracer = Tracer(enabled=bool(args.trace))
    rss = RssSampler().start()
    context = load_context(args.seed)
    conf = {"spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})

    t_import = time.perf_counter()
    from data_ingestor_web_app_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    t_session = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.add("session.get_spark", t_import, t_session)
    try:
        from data_ingestor_web_app_spark import registry

        registry.load_all()
        t_loaded = time.perf_counter()
        tracer.add("registry.load_all", t_session, t_loaded)
        ctx = Context(args, spark, tracer, rss, workdir)
        groups = None
        if args.workload == "ingest_tcp":
            result = ingest.run(ctx)
        else:
            result = batch.run(ctx, batch.ANALYTICS + batch.LLM)
            if args.trace:
                sc = spark.sparkContext
                t = time.perf_counter()
                rest = SparkRest(f"http://127.0.0.1:{sc.uiWebUrl.rsplit(':', 1)[1]}", sc.applicationId)
                rest.settle()
                groups = rest.by_group("pbtimed:")
                tracer.self_s += time.perf_counter() - t
            result["layer"] = batch.layer_metrics(result, groups, cpus)
        context.update(spark_version=spark.version,
                       java_version=spark.sparkContext._jvm.System.getProperty("java.version"))
    finally:
        t_stop = time.perf_counter()
        stop_all(spark)
        peak_mb = rss.stop()
    end = load_context(args.seed)
    context.update({f"end_{k}": v for k, v in end.items() if k.startswith("loadavg")})
    context["cpu_steal_frac"] = steal_frac(context.pop("cpu_ticks"), end["cpu_ticks"])
    context["stop_s"] = time.perf_counter() - t_stop
    if "verify" in result:  # oracle comparison, after memory sampling has stopped
        t = time.perf_counter()
        bad = result.pop("verify")()
        result["failed"] += len(bad)
        result["problems"] += bad
        context["verify_s"] = time.perf_counter() - t
    context.update(git_commit=git_commit(), wall_s=time.perf_counter() - T_PROCESS)

    e2e = {"setup_s": (t_loaded - T_PROCESS) + ctx.warm_s, "peak_rss_mb": peak_mb}
    samples = {"setup_s": 1}
    for k, v in result["e2e"].items():
        samples[k], e2e[k] = (v.n, v.value) if hasattr(v, "q") else v
    attempted, failed = result["attempted"], result["failed"]
    print(json.dumps({"context": context, "samples": samples, "notes": result["notes"],
                      "failed_frac": failed / attempted, "problems": result["problems"][:20],
                      **({"traced_e2e": e2e, "spans": len(tracer.spans)} if args.trace else {})}))

    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(result["layer"])
        layer["session.get_spark_s"] = t_session - t_import
        layer["registry.load_all_s"] = t_loaded - t_session
        layer["warmup_s"] = ctx.warm_s
        # the tracer's own time (span bookkeeping, progress polling, REST
        # collection) as a share of the timed window of this same run
        layer["trace.overhead_frac"] = tracer.self_s / result["notes"]["timed_s"]
        tracer.dump(os.path.join(RUNS, f"spans-{args.workload}-seed{args.seed}.json"))
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    shutil.rmtree(workdir, ignore_errors=True)
    if failed:
        print(f"FAILED: {failed} of {attempted} operations: {result['problems'][:5]}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
