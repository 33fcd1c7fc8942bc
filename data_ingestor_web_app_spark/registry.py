"""Query inventory registry.

Every operator from SURVEY.md §2B registers itself here via the ``@query``
decorator, carrying its DuckDB oracle SQL alongside the Spark implementation
so the pair can never drift apart. ``load_all`` finds the modules by
walking the package, so a new module registers just by existing.
``__spark_entry__.py`` re-exports the two dicts for the driver.

Determinism contract (SURVEY §7 hard parts):
- alias every computed column identically in Spark and oracle SQL;
- round float aggregates in BOTH engines;
- ``lower(hex(...))`` everywhere (Go %x parity);
- any top-k / row_number has a total order (unique tie-break column);
- never ``current_timestamp()`` inside a checked query.

INDEPENDENT-REPLAY INVARIANT (stated r10, after the wave-371 incident):
every closed-form fit (OLS/determinant/moment solve/fixed-point) MUST ship
with a pytest that recomputes the answer through an INDEPENDENT path
(numpy/pure python), not just the mirrored DuckDB oracle. Mirrored oracles
share the builder's algebra, so a transcription error can hash-match in
both engines — the wave-371 Bass-diffusion cofactor slip did exactly that
and only the numpy lstsq cross-check caught it. The oracle gate proves the
two ENGINES agree; the replay pytest proves the MATH is right.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Streaming/sink builders run a replayed stream when invoked, so tools and
# guards that build every batch query skip names with these prefixes.
STREAM_PREFIXES = ("stream_", "sink_")


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as queries()[name]; ``oracle`` is DuckDB SQL or None
    for rows-only checks (approx/streaming-state/UDF-escaping ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def load_all() -> None:
    """Import every module of the package so each ``@query`` registers.

    Modules load in sorted path order. A module that reads another
    module's oracle at import time imports that module itself, so the
    registry does not depend on the order."""
    import data_ingestor_web_app_spark as pkg

    names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
    for name in sorted(names):
        importlib.import_module(name)
