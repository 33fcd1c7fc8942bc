"""Dump executed physical plans for every batch query → PLANS.md.

Review artifact: each query's plan fingerprint (broadcast? pushed filters?
codegen? python boundary?) plus the full plan text for the headline set.
Run: python tools/dump_plans.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from data_ingestor_web_app_spark import registry
from data_ingestor_web_app_spark.plans.inspect import final_plan, plan_properties
from data_ingestor_web_app_spark.session import get_spark

SKIP = {  # streaming/sink queries spin up replay scaffolding; plans are per-microbatch
    "stream_tumbling", "stream_sliding", "stream_session", "stream_watermark_late",
    "stream_dedup", "stream_stateful_count", "stream_metrics_observe",
    "stream_fanout_sinks", "stream_static_join", "stream_custom_state",
    "sink_json_lines", "sink_partitioned_text",
}

FULL_PLAN = [
    "agg_groupby", "scan_pruned", "join_broadcast", "join_multiway", "join_asof",
    "topk_per_group", "dedup_minhash_lsh", "sim_cosine_topk",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="PLANS.md")
    ap.add_argument(
        "queries",
        nargs="*",
        help="incremental mode: plan ONLY these queries and splice their "
        "rows into the existing table (sorted position preserved) — the "
        "per-wave workflow; omit for a full regeneration",
    )
    args = ap.parse_args()

    if args.queries:
        _incremental(args)
        return

    registry.load_all()
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — executed physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale factor: `{args.sf}`. Flags: BHJ=broadcast join, SMJ=sort-merge,",
        "PF=pushed filters, WSC=whole-stage codegen, PA=partial agg, PY=python boundary.",
        "",
        "| query | BHJ | SMJ | PF | WSC | PA | top-k | PY |",
        "|---|---|---|---|---|---|---|---|",
    ]
    fulls = []
    for name, fn in sorted(registry.QUERIES.items()):
        if name in SKIP:
            continue
        try:
            p = final_plan(fn(spark, args.sf))
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {type(exc).__name__} | | | | | | |")
            continue
        pr = plan_properties(p)
        flag = lambda k: "x" if pr[k] else ""
        topk = "x" if pr["topk_heap"] or pr["window_group_limit"] else ""
        lines.append(
            f"| {name} | {flag('broadcast_join')} | {flag('sort_merge_join')} | "
            f"{flag('pushed_filters')} | {flag('codegen')} | {flag('partial_agg')} | "
            f"{topk} | {flag('python_boundary')} |"
        )
        if name in FULL_PLAN:
            fulls.append((name, p))

    lines.append("")
    for name, p in fulls:
        lines += [f"## {name}", "", "```", p.strip()[:4000], "```", ""]

    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}")


def _row(spark, name: str, sf: str) -> str:
    """One table row for `name` — same rendering as the full pass."""
    try:
        p = final_plan(registry.QUERIES[name](spark, sf))
    except Exception as exc:  # noqa: BLE001
        return f"| {name} | ERROR: {type(exc).__name__} | | | | | | |"
    pr = plan_properties(p)
    flag = lambda k: "x" if pr[k] else ""  # noqa: E731
    topk = "x" if pr["topk_heap"] or pr["window_group_limit"] else ""
    return (
        f"| {name} | {flag('broadcast_join')} | {flag('sort_merge_join')} | "
        f"{flag('pushed_filters')} | {flag('codegen')} | {flag('partial_agg')} | "
        f"{topk} | {flag('python_boundary')} |"
    )


def _incremental(args) -> None:
    """Splice fresh rows for the named queries into the committed table,
    keeping every other row byte-identical (the per-wave fast path; the
    drift guard only checks row COVERAGE, and full regeneration still runs
    at round close)."""
    registry.load_all()
    for q in args.queries:
        if q not in registry.QUERIES:
            raise SystemExit(f"unknown query: {q}")
    spark = get_spark("dump-plans-incr")
    spark.sparkContext.setLogLevel("ERROR")
    with open(args.out) as f:
        lines = f.read().split("\n")
    fresh = {q: _row(spark, q, args.sf) for q in args.queries if q not in SKIP}
    # locate table rows; replace in place or insert in sorted position
    row_idx = {}
    first_row = last_row = None
    for i, line in enumerate(lines):
        m = line.startswith("| ") and not line.startswith("| query |") and not line.startswith("|---")
        if m:
            name = line.split("|")[1].strip()
            row_idx[name] = i
            if first_row is None:
                first_row = i
            last_row = i
    for q, row in sorted(fresh.items(), reverse=True):
        if q in row_idx:
            lines[row_idx[q]] = row
            continue
        at = last_row + 1
        for name, i in sorted(row_idx.items()):
            if name > q:
                at = i
                break
        lines.insert(at, row)
        row_idx = {n: (i + 1 if i >= at else i) for n, i in row_idx.items()}
        row_idx[q] = at
        last_row += 1
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"spliced {len(fresh)} row(s) into {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
