"""One shared build of every registered batch query for the registry-wide
plan guards.

Three guards inspect every batch builder: the eager-action lint
(tests/test_eager_action_lint.py), the output-type guard
(tests/test_output_types_guard.py) and the static-plan lint
(tests/test_plan_lint.py). Building ~1,100 queries is minutes of Catalyst
analysis, and each guard used to pay it on its own. ``sweep`` builds each
query once and derives what every guard checks from that one build:

- the build runs with the DataFrame action surface patched to raise (the
  eager lint); names the lint exempts are built unpatched, as before. A
  build that reached an action is redone unpatched before anything else is
  read from it, so the other guards always see the query's real plan;
- the output schema (output-type guard);
- the static-plan lint, through ``plans.lint.lint_df``, the same path
  ``plans.lint.lint_query`` and tools/lint_plans.py take (plan lint).

Only the findings are kept, never the DataFrames. The session's cache is
cleared every 100 queries, as the plan lint's own sweep did.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

# PySpark 4: pyspark.sql.DataFrame is the abstract facade; actions dispatch
# on the classic concrete class — patch that one.
from pyspark.sql.classic.dataframe import DataFrame

from data_ingestor_web_app_spark.plans.lint import lint_df
from data_ingestor_web_app_spark.registry import QUERIES, STREAM_PREFIXES


class EagerAction(Exception):
    """Raised by a patched DataFrame action; the message is its name."""


@contextmanager
def actions_raise(actions: list[str], fired: list[str] | None = None):
    """Make each DataFrame method in ``actions`` raise ``EagerAction``;
    every call is also appended to ``fired``, so an action whose exception
    the builder swallowed is still seen."""
    orig = {a: getattr(DataFrame, a) for a in actions}

    def trip(name):
        def inner(self, *args, **kwargs):
            if fired is not None:
                fired.append(name)
            raise EagerAction(name)

        return inner

    try:
        for a in actions:
            setattr(DataFrame, a, trip(a))
        yield
    finally:
        for a in actions:
            setattr(DataFrame, a, orig[a])


@dataclass
class Built:
    """What the guards check for one batch query."""

    # eager lint: the action that escaped the patched build, or the other
    # exception it raised (None for names the lint exempts)
    eager_action: str | None = None
    eager_error: Exception | None = None
    # the unpatched build, and each guard's view of it
    build_error: Exception | None = None
    schema: object = None
    lint_error: Exception | None = None
    lint: list = field(default_factory=list)


def batch_names() -> list[str]:
    return [n for n in sorted(QUERIES) if not n.startswith(STREAM_PREFIXES)]


def _inspect(spark, df, b: Built) -> None:
    try:
        b.schema = df.schema
    except Exception as exc:  # noqa: BLE001 — analysis failed: a build error
        b.build_error = exc
        return
    try:
        b.lint = lint_df(spark, df)
    except Exception as exc:  # noqa: BLE001 — a finding for the plan lint
        b.lint_error = exc


def sweep(spark, sf_dir: str, actions: list[str], eager_allowed) -> dict[str, Built]:
    out: dict[str, Built] = {}
    for i, name in enumerate(batch_names()):
        b = out[name] = Built()
        df = None
        if name not in eager_allowed:
            fired: list[str] = []
            try:
                with actions_raise(actions, fired):
                    df = QUERIES[name](spark, sf_dir)
            except EagerAction as exc:
                b.eager_action = str(exc)
            except Exception as exc:  # noqa: BLE001 — surface, don't crash
                b.eager_error = exc
            if fired:
                df = None
        if df is None:
            try:
                df = QUERIES[name](spark, sf_dir)
            except Exception as exc:  # noqa: BLE001 — surface, don't crash
                b.build_error = exc
        if df is not None:
            _inspect(spark, df, b)
        del df
        if i % 100 == 99:
            spark.catalog.clearCache()
    return out
