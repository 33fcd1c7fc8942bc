"""Registry-wide eager-action lint (VERDICT r8 item 7).

A query builder's job is to BUILD a plan; running Spark actions (count /
collect / first / ...) at build time launches extra jobs per invocation and
hides work from the optimizer. r9 folded every bounded scalar count into
1-row broadcast frames (17 queries reworked, 40+ build-time jobs removed);
this guard keeps new builders honest.

Mechanism: the concrete (classic) DataFrame action surface is monkeypatched
to RAISE, every registered batch builder is invoked, and any builder that
trips the probe must be in ``ALLOWED`` — the explicit, reviewed list of
driver-loop / structural queries whose collects are bounded by construction
(same enforcement pattern as tests/test_plan_lint.py).
"""

from __future__ import annotations

from data_ingestor_web_app_spark.registry import QUERIES, STREAM_PREFIXES
from tests.batch_sweep import EagerAction, actions_raise

# isEmpty/show/foreach/foreachPartition are on the surface too: a builder
# calling df.isEmpty() launches a job just like count().
ACTIONS = [
    "count",
    "collect",
    "first",
    "take",
    "head",
    "tail",
    "toPandas",
    "isEmpty",
    "show",
    "foreach",
    "foreachPartition",
]

# Streaming/sink builders (``STREAM_PREFIXES``) execute a replayed stream
# by contract — they get their own lint pass below
# (test_no_eager_actions_stream_builders) with a separately reviewed
# allowlist, instead of a wholesale skip (VERDICT r9 item 7).

# name -> documented bound for the build-time action(s). Every entry is a
# deliberate, reviewed exemption; remove the entry when the query is
# reworked onto the 1-row-broadcast pattern.
ALLOWED: dict[str, str] = {
    # Iterative driver loops — the action result steers the NEXT round's
    # plan, so it cannot stay symbolic; all have in-code round bounds:
    "model_rank_irv_winner": "IRV elimination rounds, bounded by #candidates",
    "model_rank_schulze": "bounded candidate-pair matrix, Floyd-Warshall unroll",
    "pipeline_greedy_set_cover": "greedy picks, wave216 caps 8 rounds/<=24 jobs",
    "sim_kcenter_greedy": "k greedy seed picks, k bounded",
    "events_attribution_markov_removal": "per-channel removal effects, bounded channels",
    # Bounded frames collected to UNROLL a sequential recursion into the
    # plan (calendar-sized, never row-scale):
    "events_dtw_weekly": "weekly profile (weeks x 7) collected to unroll the DTW DP",
    "model_hmm_forward": "daily observation sequence unrolls the forward recursion",
    "model_hmm_viterbi": "daily observation sequence unrolls the Viterbi lattice",
    "opt_wagner_whitin": "period-count DP ladder, driver-unrolled",
    "model_aic_bic_ladder": "3-row model frame collected to build the ladder",
    # Structural sizing — ONE scalar that sizes a generator/block grid:
    "agg_ad_ksample": "N sizes the spark.range harmonic frame (one scalar)",
    "sim_knn_graph": "one scalar sizes the GEMM block grid (r6 parallelism fix)",
    # Operator contracts that REQUIRE an action:
    "scan_observed_metrics": "df.observe() only populates after an action — the contract under test",
    "agg_countmin_sketch": "JVM CountMinSketch deserialized driver-side; one ~KB sketch per group",
    "sim_cosine_topk_pandas": "20 query vectors collected into the pandas-UDF closure (dimension-sized)",
    # Maintenance ops over file manifests (bounded by file counts):
    "retention_prune": "file-manifest maintenance; lists bounded partition files",
    "retention_compress_aged": "file-manifest maintenance; lists bounded partition files",
    # Source-under-test fixture materialization:
    "mm_binaryfile_source": "executor-side foreachPartition writes the binaryFile fixture (bounded 100 docs) — the source contract under test",
}

# Stream/sink builders run a full replayed stream when invoked; their
# build phase must still not fire batch actions. Reviewed exemptions —
# each is a bounded scalar/dim that steers sentinel or closure
# construction and cannot stay symbolic:
STREAM_ALLOWED: dict[str, str] = {
    "stream_stream_left_outer": "one agg scalar (max ts) sizes the watermark sentinel batches",
    "stream_dim_refresh_join": "5-row dim collected into the foreachBatch closure (re-versioned per batch)",
    "stream_rate_source_smoke": "memory-sink drain poll (count until >=200 rows) — the drain contract under test",
}


def _assert_clean(errors: list[str], offenders: list[str], stale_allow: set[str]) -> None:
    assert not errors, "query build errors under the lint:\n" + "\n".join(errors)
    assert not offenders, (
        "Spark action executed while BUILDING the plan — fold the bounded "
        "scalar into a 1-row broadcast frame (crossJoin(F.broadcast(agg))), "
        "or add a reviewed ALLOWED entry with the documented bound:\n"
        + "\n".join(offenders)
    )
    assert not stale_allow, (
        f"stale ALLOWED entries (no longer registered): {sorted(stale_allow)}"
    )


def _run_lint(spark, sf_small, names: list[str], allowed: dict[str, str]) -> None:
    offenders: list[str] = []
    errors: list[str] = []
    stale_allow = set(allowed)
    with actions_raise(ACTIONS):
        for name in names:
            if name in allowed:
                stale_allow.discard(name)
                continue  # documented, reviewed exemption; skip the build
            try:
                QUERIES[name](spark, sf_small)
            except EagerAction as exc:
                offenders.append(f"{name}: .{exc}() at build time")
            except Exception as exc:  # noqa: BLE001 — surface, don't crash
                errors.append(f"{name}: {type(exc).__name__}: {exc}"[:160])
    _assert_clean(errors, offenders, stale_allow)


def test_no_eager_actions_at_build_time(batch_sweep):
    """Every batch builder is built once under the probe by the shared
    sweep (tests/batch_sweep.py); ALLOWED names are built unpatched."""
    offenders = [
        f"{name}: .{b.eager_action}() at build time"
        for name, b in batch_sweep.items()
        if b.eager_action
    ]
    errors = [
        f"{name}: {type(b.eager_error).__name__}: {b.eager_error}"[:160]
        for name, b in batch_sweep.items()
        if b.eager_error is not None
    ]
    _assert_clean(errors, offenders, set(ALLOWED) - set(batch_sweep))


def test_no_eager_actions_stream_builders(spark, sf_small):
    """Stream/sink builders under the same probe (VERDICT r9 item 7).
    Invoking one runs its full bounded replay, so this pass costs real
    wall (~4 min for 31 builders) — but it proves the replay pipelines
    themselves never fall back to driver-side batch actions outside the
    three reviewed STREAM_ALLOWED contracts."""
    names = [n for n in sorted(QUERIES) if n.startswith(STREAM_PREFIXES)]
    _run_lint(spark, sf_small, names, STREAM_ALLOWED)
