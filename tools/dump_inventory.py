"""Generate OPERATORS.md — the full query inventory with module, oracle
kind, and one-line description, auto-derived from the registry so it can't
drift from the code. Run: python tools/dump_inventory.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from data_ingestor_web_app_spark import registry

registry.load_all()


def render() -> str:
    """The full OPERATORS.md content — shared by main() and the drift-guard
    test (tests/test_inventory_drift.py), so a stale committed file fails
    CI-style instead of rotting silently (r5 VERDICT item 8)."""
    lines = [
        "# OPERATORS — query inventory (generated by tools/dump_inventory.py)",
        "",
        "One row per `queries()` entry. Oracle `SQL` = hash-checked against",
        "DuckDB at sf0.01; `rows` = rows-only (approximate / stateful-replay /",
        "stubbed ops, as declared in SURVEY.md §2B).",
        "",
        f"Total: {len(registry.QUERIES)} queries "
        f"({len(registry.ORACLES)} SQL-checked, "
        f"{len(registry.QUERIES) - len(registry.ORACLES)} rows-only).",
        "",
        "| query | module | oracle | what it does |",
        "|---|---|---|---|",
    ]
    for name, fn in sorted(registry.QUERIES.items()):
        module = fn.__module__.replace("data_ingestor_web_app_spark.", "")
        oracle = "SQL" if name in registry.ORACLES else "rows"
        doc = (fn.__doc__ or "").strip().split("\n")[0].rstrip(".")
        lines.append(f"| `{name}` | {module} | {oracle} | {doc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    (ROOT / "OPERATORS.md").write_text(render())
    print(f"wrote OPERATORS.md ({len(registry.QUERIES)} queries)")


if __name__ == "__main__":
    main()
