"""Discover builders that execute Spark actions at plan-BUILD time.

Monkeypatches the DataFrame action surface to record (not block) calls,
then invokes every registered batch builder. Output: name -> list of
actions fired while building the plan. VERDICT r8 item 7 feeder.
"""
from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import SparkSession
# PySpark 4: pyspark.sql.DataFrame is the abstract facade; actions
# dispatch on the CLASSIC concrete class — patch that one.
from pyspark.sql.classic.dataframe import DataFrame

ACTIONS = ["count", "collect", "first", "take", "head", "tail", "toPandas", "isEmpty", "show", "foreach", "foreachPartition"]


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("lint-eager")
        .getOrCreate()
    )
    from data_ingestor_web_app_spark import registry

    registry.load_all()

    fired: list[str] = []
    orig = {a: getattr(DataFrame, a) for a in ACTIONS}

    def wrap(name, fn):
        def inner(self, *args, **kwargs):
            fired.append(name)
            return fn(self, *args, **kwargs)
        return inner

    for a in ACTIONS:
        setattr(DataFrame, a, wrap(a, orig[a]))

    sf = "/root/testdata/sf0.001"
    report: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    names = [n for n in sorted(registry.QUERIES) if not n.startswith(registry.STREAM_PREFIXES)]
    for i, name in enumerate(names):
        fired.clear()
        try:
            registry.QUERIES[name](spark, sf)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:120]
        if fired:
            report[name] = list(fired)
        if i % 100 == 0:
            print(f"...{i}/{len(names)}", file=sys.stderr)
    for a in ACTIONS:
        setattr(DataFrame, a, orig[a])
    print("== offenders ==")
    for name, acts in sorted(report.items()):
        from collections import Counter
        print(f"{name}: {dict(Counter(acts))}")
    print(f"total offenders: {len(report)} / {len(names)}")
    if errors:
        print("== build errors ==")
        for n, e in errors.items():
            print(f"{n}: {e}")


if __name__ == "__main__":
    main()
