"""Registry-wide unpartitioned-window plan guard (VERDICT r7 item 4).

204 ``Window.orderBy`` sites run without ``partitionBy``.  Individually each
is justified by a "Scale shape" docstring (the window input is an aggregated
/ distinct / limited frame), but nothing *enforced* that those justifications
stay true.  This guard executes every registered batch query's optimizer and
asserts: **no unpartitioned Window whose subtree reaches a raw-scan leaf
(parquet Relation / LogicalRDD) without passing through an Aggregate /
Deduplicate / GlobalLimit** — the plan shape that becomes a single
corpus-sized partition at 100 TB.

Queries that genuinely need a global order over raw rows are enumerated in
``ALLOWED`` with the documented bound that keeps them safe (same enforcement
pattern as tests/test_output_types_guard.py: the exemption is explicit,
reviewed, and any NEW offender fails the suite).
"""

from __future__ import annotations

from data_ingestor_web_app_spark.registry import QUERIES, STREAM_PREFIXES

# Streaming/sink builders (``STREAM_PREFIXES``) replay real streams; their
# per-microbatch plans are audited by their own pytest files, and their
# post-hoc windows run on memory-sink snapshot frames bounded by emission
# counts.

# name -> documented bound for the global window over raw rows.
# Every entry is a deliberate, reviewed exemption; remove the entry when the
# query is reworked (aggregate-collapse / range-partitioned prefix sums).
ALLOWED: dict[str, str] = {
    # Sequential recursions replayed over the time-ordered event stream: the
    # batch query IS the deterministic replay twin of a streaming operator
    # (O(1) state per step); at 100 TB this runs as the streaming leg, and
    # the batch twin is calendar-bounded by construction.
    "events_lindley_queue": "Lindley prefix recursion over time-ordered arrivals",
    "events_lindley_departures": "Lindley departure smoothing, same replay",
    "events_jackson_tandem": "tandem-queue replay over time-ordered arrivals",
    "events_bandit_replay_greedy": "bandit replay is sequential by definition",
    # Bounded-by-construction inputs the leaf heuristic cannot see:
    "model_aic_bic_ladder": "window over a 3-row literal model frame (LogicalRDD)",
    "opt_fractional_knapsack": "explicit p_partkey <= 50 literal filter bounds the item set",
    # r8 reworked OFF this list (aggregate-collapse / sharded prefix rank):
    # agg_bowley_skewness, agg_median_ci_orderstat, events_hazard_profile,
    # agg_cliffs_delta, agg_spearman_rho, agg_kruskal_wallis, agg_watson_u2,
    # agg_l_moments, model_qini_uplift, model_mcc_score, model_gains_table,
    # model_conformal_interval, model_quantile_normalization,
    # model_duane_growth, model_weibull_plot_fit, events_inspection_paradox,
    # events_ww_runs_two_sample (label-block collapse).
}


def test_no_global_window_over_raw_scan(batch_sweep):
    """Each query's optimized plan comes from the shared sweep's one build
    (tests/batch_sweep.py)."""
    offenders: list[str] = []
    errors: list[str] = []
    stale_allow = set(ALLOWED)
    for name in sorted(QUERIES):
        if name.startswith(STREAM_PREFIXES):
            continue
        b = batch_sweep[name]
        exc = b.build_error if b.build_error is not None else b.window_error
        if exc is not None:
            errors.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        viol = b.window
        if not viol:
            continue
        if name in ALLOWED:
            stale_allow.discard(name)
            continue
        v = viol[0]
        offenders.append(f"{name}:\n  {v.window_line[:140]}\n  {v.leaf_line[:100]}")
    assert not errors, "query build errors:\n" + "\n".join(errors)
    assert not offenders, (
        "unpartitioned Window over a raw scan with no Aggregate/Deduplicate/"
        "GlobalLimit between them — a corpus-sized single partition at scale. "
        "Collapse to distinct values first (groupBy + cumulative counts) or "
        "add a reviewed ALLOWED entry with the documented bound:\n"
        + "\n".join(offenders)
    )
    assert not stale_allow, (
        f"stale ALLOWED entries (query no longer trips the audit — remove): "
        f"{sorted(stale_allow)}"
    )
