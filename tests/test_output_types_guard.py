"""Registry-wide output-type guard (round-7 item 1).

The driver's correctness harness canonicalizes result cells with a pandas
sort + hash that cannot handle list/map/struct cells (round 6's only red
row: ``text_inverted_index`` emitted an ``ArrayType`` ``postings_head`` and
the driver errored with ``unhashable type: 'list'`` even though the values
hash-matched DuckDB under the repo's own tuple-izing canonicalizer).

Invariant enforced here: **every SQL-oracle-backed query emits only
atomic-typed columns** (numeric / string / bool / date / timestamp /
binary).  Arrays must be serialized — the repo convention is
``array_join(transform(xs, x -> cast(x as string)), ',')`` Spark-side and
``ARRAY_TO_STRING(..., ',')`` oracle-side (see ``agg_collect_sorted``,
``operators/aggregates.py`` and ``text_inverted_index``,
``operators/wave125.py``).

Rows-only queries (no oracle entry) are exempt: the driver only counts
their rows, so complex types cannot crash its canonicalizer.
"""

from __future__ import annotations

from pyspark.sql import types as T

from data_ingestor_web_app_spark.registry import ORACLES, STREAM_PREFIXES

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)

# Queries whose *builder* runs real streams / writes sinks before returning
# a batch frame — building them here would re-run minutes of streaming work
# already covered by test_streaming.py; none of them are driver-hash checked
# with complex types (guard below still covers every other oracle-backed
# name, and the builder asserts streaming results are flat strings/longs).
# These are the ``STREAM_PREFIXES`` names; the shared sweep
# (tests/batch_sweep.py) builds every other query once.


def test_no_complex_types_in_oracle_backed_outputs(batch_sweep):
    offenders: list[str] = []
    errors: list[str] = []
    for name in sorted(ORACLES):
        if name.startswith(STREAM_PREFIXES):
            continue
        b = batch_sweep[name]
        if b.build_error is not None:
            exc = b.build_error
            errors.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        bad = [
            f.name for f in b.schema.fields if isinstance(f.dataType, _COMPLEX)
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not errors, "query build errors:\n" + "\n".join(errors)
    assert not offenders, (
        "SQL-oracle queries emit complex-typed columns the driver cannot "
        "hash — serialize them to strings in BOTH engines:\n"
        + "\n".join(offenders)
    )


def test_local_checker_rejects_list_cells():
    """The local gate must fail exactly where the driver fails (round-7
    item 4): complex cells are a hard TypeError, never tuple-ized."""
    import sys
    from pathlib import Path

    import pytest

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check_oracle import canon

    for bad in ([1, 2], (1, 2), {"k": 1}):
        with pytest.raises(TypeError):
            canon(bad)
    # atomic cells still canonicalize
    assert canon(1) == ("i", 1)
    assert canon(1.5) == ("f", 1.5)
    assert canon("x") == "x"
