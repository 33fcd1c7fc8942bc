"""Ad-hoc runner for the registry-wide static-plan lint (VERDICT r10 item 1).

Sweeps every registered batch query through plans.lint.lint_query and prints
one line per violation. The enforcing copy, tests/test_plan_lint.py with the
reviewed allowlist, lints the shared test sweep's builds through
plans.lint.lint_df, the function lint_query calls, so both see the same plan.

Usage: python tools/lint_plans.py [--sf /root/testdata/sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path
import time

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from data_ingestor_web_app_spark import registry
from data_ingestor_web_app_spark.plans.lint import lint_query
from data_ingestor_web_app_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None, help="optional JSONL output path")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    names = args.names or [
        n for n in registry.QUERIES if not n.startswith(registry.STREAM_PREFIXES)
    ]
    sink = open(args.out, "w") if args.out else None
    n_bad = 0
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            vs = lint_query(spark, registry.QUERIES[name], args.sf)
            err = None
        except Exception as e:  # builder/planning failure is its own finding
            vs, err = [], f"{type(e).__name__}: {e}"
        dt = time.time() - t0
        row = {
            "name": name,
            "violations": [str(v) for v in vs],
            "error": err,
            "sec": round(dt, 2),
        }
        if vs or err:
            n_bad += 1
            print(json.dumps(row), flush=True)
        if sink:
            sink.write(json.dumps(row) + "\n")
            sink.flush()
        if i % 50 == 49:
            print(f"# {i + 1}/{len(names)} swept, {n_bad} flagged", flush=True)
            spark.catalog.clearCache()
    if sink:
        sink.close()
    print(f"# done: {len(names)} swept, {n_bad} flagged", flush=True)


if __name__ == "__main__":
    main()
