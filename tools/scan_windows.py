"""One-off scan: run the window_audit over every registered batch query and
print the offender list (input to the guard test's allowlist decisions).
Run: python tools/scan_windows.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from data_ingestor_web_app_spark import registry
from data_ingestor_web_app_spark.plans.window_audit import audit_plan
from data_ingestor_web_app_spark.session import get_spark


def main() -> None:
    registry.load_all()
    spark = get_spark("window-scan")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    n_global = 0
    offenders: list[str] = []
    errors: list[str] = []
    for name in sorted(registry.QUERIES):
        if name.startswith(registry.STREAM_PREFIXES):
            continue
        try:
            df = registry.QUERIES[name](spark, sf)
            tree = df._jdf.queryExecution().optimizedPlan().treeString()
        except Exception as exc:  # noqa: BLE001
            errors.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        viol = audit_plan(tree)
        if "Window [" in tree:
            n_global += tree.count("Window [")
        for v in viol:
            offenders.append(f"{name}\n  WIN  {v.window_line[:160]}\n  LEAF {v.leaf_line[:120]}")
    print(f"window nodes seen: {n_global}")
    print(f"offenders: {len(offenders)}")
    for o in offenders:
        print(o)
    if errors:
        print(f"errors: {len(errors)}")
        for e in errors[:10]:
            print(" ", e)
    spark.stop()


if __name__ == "__main__":
    main()
