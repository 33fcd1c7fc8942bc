"""Drift guards for the tools and their generated artifact: OPERATORS.md
must equal what tools/dump_inventory.py would write today, so a stale
table FAILS here instead of silently rotting (OPERATORS.md once claimed
602 queries while the registry held 649), and every tool must still
import, so a tool that names a deleted module fails here instead of
failing the next person who runs it."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = sorted((REPO / "tools").glob("*.py"))


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", [p.stem for p in TOOLS])
def test_tool_loads(name):
    """Loading a tool runs its imports but not ``main``: each tool guards
    ``main()`` behind ``__name__ == "__main__"``."""
    assert callable(_load_tool(name).main)


def test_operators_md_matches_registry():
    inv = _load_tool("dump_inventory")
    committed = (REPO / "OPERATORS.md").read_text()
    expected = inv.render()
    assert committed == expected, (
        "OPERATORS.md is stale — regenerate with `python tools/dump_inventory.py`"
    )
