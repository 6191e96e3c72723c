"""Pins for bench.py's artifact-shaping logic."""

import pytest

from bench import split_keyset_rounds

#: the core count and scale every comparable artifact pair shares
SETUP = {"cpus": 8, "sf": 0.1}


def _total(aux):
    return round(
        aux.get("keyset_poll_drain", 0.0)
        + aux.get("keyset_poll_steady_batch", 0.0),
        3,
    )


def test_steady_is_last_full_round_not_the_remainder():
    # 3 full rounds + an n-mod-limit remainder: steady = round index 2
    # (the last FULL one), drain = everything else including the
    # remainder; together they partition the soak.
    per_round = [(2.0, 100), (1.0, 100), (0.9, 100), (0.2, 37)]
    aux = split_keyset_rounds(per_round, limit=100)
    assert aux["keyset_poll_steady_batch"] == 0.9
    assert aux["keyset_poll_drain"] == round(2.0 + 1.0 + 0.2, 3)
    assert _total(aux) == round(sum(t for t, _ in per_round), 3)


def test_single_round_drain_emits_no_steady_entry():
    # tiny SF: everything drains in one poll — the whole soak is
    # drain, and no misleading 0.0/steady entry appears.
    aux = split_keyset_rounds([(3.4, 1149)], limit=4000)
    assert aux == {"keyset_poll_drain": 3.4}


def test_first_round_never_counts_as_steady_even_if_full():
    # a full-sized FIRST round ran against empty state — that is
    # drain; with no later full round there is no steady entry.
    aux = split_keyset_rounds([(1.5, 100), (0.1, 20)], limit=100)
    assert "keyset_poll_steady_batch" not in aux
    assert aux["keyset_poll_drain"] == 1.6


def test_exact_multiple_backlog_uses_final_full_round():
    # backlog divides evenly: the last applied round is full-sized and
    # state-populated — it IS the steady batch.
    per_round = [(2.0, 100), (1.1, 100), (1.0, 100)]
    aux = split_keyset_rounds(per_round, limit=100)
    assert aux["keyset_poll_steady_batch"] == 1.0
    assert aux["keyset_poll_drain"] == 3.1
    assert _total(aux) == round(sum(t for t, _ in per_round), 3)


def test_empty_soak_emits_nothing():
    assert split_keyset_rounds([], limit=100) == {}


def test_plan_runs_retimes_only_the_sub_threshold_bulk():
    # jitter control contract (VERDICT r8 #1): a fast query gets a
    # second timed run (min recorded); at/over the threshold stays
    # single-shot — the jitter is noise within rounding there and the
    # rerun would double multi-second wall clock for nothing.
    from bench import RETIME_THRESHOLD_SEC, plan_runs

    assert plan_runs("docs_bm25", 0.4) == 2
    assert plan_runs("docs_bm25", RETIME_THRESHOLD_SEC - 0.001) == 2
    assert plan_runs("docs_bm25", RETIME_THRESHOLD_SEC) == 1
    assert plan_runs("docs_bm25", 10.0) == 1


def test_plan_runs_retimes_load_spikes_over_the_idle_reference():
    # blind-spot fix (VERDICT r9 #2): round 9's ann_topk had idle
    # reference 1.31s but a load spike pushed the first run to 3.00s —
    # over the absolute threshold, so it escaped re-timing and the
    # artifact recorded a fake 2.29x. A first run over
    # RETIME_VS_IDLE_FACTOR x the committed idle reference now re-runs
    # even when it crossed the absolute threshold.
    from bench import RETIME_VS_IDLE_FACTOR, SINGLE_SHOT, plan_runs

    # the motivating case: idle 1.31, first run 3.00 -> re-timed now
    assert plan_runs("ann_topk", 3.00, idle_sec=1.31) == 2
    # a slow query running at its normal speed stays single-shot
    assert plan_runs("docs_clean_corpus", 5.8, idle_sec=5.78) == 1
    # exactly at the factor boundary: not a spike, single-shot
    assert plan_runs("docs_clean_corpus", 5.78 * RETIME_VS_IDLE_FACTOR,
                     idle_sec=5.78) == 1
    # just over the boundary: re-timed (r9's docs_clean_corpus 1.77x
    # single-shot move would have gotten a second run)
    assert plan_runs("docs_clean_corpus", 9.74, idle_sec=5.51) == 2
    # no committed reference (new query, missing artifact): absolute
    # threshold alone — round-9 behavior
    assert plan_runs("docs_bm25", 10.0, idle_sec=None) == 1
    # SINGLE_SHOT still wins over everything
    for name in SINGLE_SHOT:
        assert plan_runs(name, 10.0, idle_sec=1.0) == 1


def test_load_idle_reference_reads_the_committed_artifact():
    # the reference feeding the spike detector is the per-query map in
    # the repo-root BENCH_SELF.json; a missing/malformed file must
    # degrade to {} (absolute-threshold-only), never raise.
    from bench import load_idle_reference

    ref = load_idle_reference()
    assert isinstance(ref, dict)
    if ref:  # committed artifact present: floats keyed by query name
        assert all(isinstance(v, float) for v in ref.values())
        assert "cs_replay_final_state" in ref


def test_plan_runs_soak_fixtures_are_always_single_shot():
    # sink/soak fixtures commit real state per call: a rerun times a
    # DIFFERENT workload (fresh tempdir), so min-of-2 is undefined —
    # they stay single-shot even if a run somehow lands under the
    # threshold.
    from bench import SINGLE_SHOT, plan_runs

    assert SINGLE_SHOT == {
        "cs_keyset_poll_stream",
        "cs_state_asof",
        "ann_ivf_indexed",
        "dedup_minhash_indexed",
        # memoized shared NN-graph: a rerun reads the persisted frame,
        # so min-of-2 would time a cache hit, not the work
        "ann_nn_descent",
        "ann_graph_search",
    }
    for name in SINGLE_SHOT:
        assert plan_runs(name, 0.1) == 1


def test_single_shot_names_are_registered_headline_queries():
    # guard against a rename in queries() silently orphaning an entry
    # in SINGLE_SHOT (it would quietly start being re-timed)
    from bench import HEADLINE, SINGLE_SHOT

    assert SINGLE_SHOT <= set(HEADLINE)


def test_run_canary_is_fixed_shape_and_positive(spark):
    # the canary's value is its CONTRACT: two fixed-cost probes, both
    # strictly positive, no data dependence — the artifact consumer
    # ratios them against a prior run's to detect machine load.
    from bench import run_canary

    c = run_canary(spark)
    assert set(c) == {"python_spin_sec", "spark_fixed_sec"}
    assert all(isinstance(v, float) and v > 0 for v in c.values())


def test_choose_self_artifact_protects_the_idle_reference():
    """VERDICT r10 item 2 root cause: a more-loaded run must not
    clobber the committed idle BENCH_SELF.json (it inflates the retime
    trigger threshold). A loaded-and-not-faster run is diverted to
    BENCH_SELF_LAST.json; comparably-idle or strictly-faster runs (and
    first runs with no reference) become the reference."""
    from bench import choose_self_artifact

    def run(canary, total):
        # two-query split keeps the shared-sum test aligned with value
        return {
            **SETUP, "canary_sec": canary,
            "value": total,
            "queries": {"a": total * 0.6, "b": total * 0.4},
        }

    idle = run(1.49, 158.4)
    loaded_slower = run(1.70, 181.5)
    loaded_faster = run(1.70, 140.0)
    comparable = run(1.55, 160.0)
    assert choose_self_artifact(loaded_slower, idle) == "BENCH_SELF_LAST.json"
    assert choose_self_artifact(loaded_faster, idle) == "BENCH_SELF.json"
    assert choose_self_artifact(comparable, idle) == "BENCH_SELF.json"
    assert choose_self_artifact(loaded_slower, None) == "BENCH_SELF.json"
    assert choose_self_artifact(loaded_slower, {"bad": 1}) == "BENCH_SELF.json"


def test_choose_self_artifact_catches_mid_run_contention():
    """Round-11 finding: bracket canaries can look idle while the run
    body was contended. A run whose SHARED-query sum is >5% above the
    committed reference diverts even with a comparable canary; a new
    query on only one side never blocks the update."""
    from bench import choose_self_artifact

    idle = {
        **SETUP, "canary_sec": 1.46, "value": 161.8,
        "queries": {"a": 100.0, "b": 61.8},
    }
    body_contended = {  # canary fine, body 13% slower
        **SETUP, "canary_sec": 1.42, "value": 183.2,
        "queries": {"a": 113.0, "b": 70.2},
    }
    with_new_query = {  # same shared speed + one new query: updates
        **SETUP, "canary_sec": 1.45, "value": 163.0,
        "queries": {"a": 100.5, "b": 61.5, "c": 1.0},
    }
    assert choose_self_artifact(body_contended, idle) == "BENCH_SELF_LAST.json"
    assert choose_self_artifact(with_new_query, idle) == "BENCH_SELF.json"


def test_choose_self_artifact_skips_canary_rule_across_methods():
    """Round-13 canary fix: steady-v2 canaries (throwaway absorbs the
    warm-up transient) read systematically lower than v1 on the same
    machine, so the >=10% canary rule only applies within one method.
    Across methods the shared-sum test carries the guard alone: a v2
    run with a HIGHER raw canary than the v1 reference but a clean
    shared sum updates the reference; a v2 run with a pristine canary
    but a contended body still diverts."""
    from bench import choose_self_artifact

    v1_ref = {
        **SETUP, "canary_sec": 1.16, "value": 148.8,
        "queries": {"a": 90.0, "b": 58.8},
    }
    v2_clean = {  # canary above v1*1.10 but methods differ: rule skipped
        **SETUP, "canary_sec": 1.40, "canary_method": "steady-v2", "value": 150.0,
        "queries": {"a": 90.5, "b": 59.5},
    }
    v2_contended_body = {  # low canary cannot excuse a slow body
        **SETUP, "canary_sec": 0.95, "canary_method": "steady-v2", "value": 170.0,
        "queries": {"a": 102.0, "b": 68.0},
    }
    assert choose_self_artifact(v2_clean, v1_ref) == "BENCH_SELF.json"
    assert (
        choose_self_artifact(v2_contended_body, v1_ref)
        == "BENCH_SELF_LAST.json"
    )
    # within ONE method the canary rule still bites
    v2_ref = dict(v2_clean)
    v2_loaded = {
        **SETUP, "canary_sec": 1.60, "canary_method": "steady-v2", "value": 155.0,
        "queries": {"a": 93.0, "b": 62.0},
    }
    assert choose_self_artifact(v2_loaded, v2_ref) == "BENCH_SELF_LAST.json"


def test_choose_self_artifact_sustained_start_rule():
    """Round-14 (VERDICT r13 item 7): a run whose START-bracket
    sustained probe reads >1.5x the committed one began its body under
    the all-core frequency penalty burst canaries can't see — divert,
    unless strictly faster (load inflation cannot produce faster). An
    END-side spike alone never diverts (post-body noise; the r14
    reference landed exactly that way), and artifacts predating the
    probe skip the rule instead of crashing."""
    from bench import choose_self_artifact

    def run(total, s_start, s_end, canary=0.86):
        return {
            **SETUP, "canary_sec": canary,
            "canary_method": "steady-v2",
            "value": total,
            "queries": {"a": total * 0.6, "b": total * 0.4},
            "sustained": {"start": s_start, "end": s_end},
        }

    idle = run(160.5, 2.55, 9.8)
    start_contended = run(163.0, 4.2, 4.0)  # sum within 5%, start 1.65x
    start_contended_faster = run(150.0, 4.2, 4.0)
    end_spike_only = run(161.0, 2.6, 12.0)
    assert choose_self_artifact(start_contended, idle) == "BENCH_SELF_LAST.json"
    assert choose_self_artifact(start_contended_faster, idle) == "BENCH_SELF.json"
    assert choose_self_artifact(end_spike_only, idle) == "BENCH_SELF.json"

    # no-sustained reference: rule skipped, canary/shared-sum still govern
    legacy = {k: v for k, v in idle.items() if k != "sustained"}
    assert choose_self_artifact(run(161.0, 9.9, 9.9), legacy) == "BENCH_SELF.json"


def _artifact(cpus, sf, total=120.0, canary=0.9):
    out = {
        "sf": sf,
        "canary_sec": canary,
        "canary_method": "steady-v2",
        "value": total,
        "queries": {"a": total * 0.6, "b": total * 0.4},
    }
    if cpus is not None:
        out["cpus"] = cpus
    return out


@pytest.mark.parametrize(
    "ref_cpus, ref_sf", [(8, 0.1), (32, 0.1), (8, 0.01)],
    ids=["same", "other-cpus", "other-sf"],
)
def test_reference_from_another_setup_is_never_compared(tmp_path, ref_cpus, ref_sf):
    """An 8-core sf0.1 run against a reference from another core count
    or scale: the run is diverted to BENCH_SELF_LAST.json even when it
    is faster (faster may just mean more cores), and plan_runs gets no
    idle reference (absolute threshold only)."""
    import json

    from bench import choose_self_artifact, load_idle_reference

    ref = _artifact(ref_cpus, ref_sf)
    path = tmp_path / "BENCH_SELF.json"
    path.write_text(json.dumps(ref))
    faster = _artifact(8, 0.1, total=100.0)
    idle = load_idle_reference(8, 0.1, str(path))
    if (ref_cpus, ref_sf) == (8, 0.1):
        assert choose_self_artifact(faster, ref) == "BENCH_SELF.json"
        assert idle == ref["queries"]
    else:
        assert choose_self_artifact(faster, ref) == "BENCH_SELF_LAST.json"
        assert idle == {}


def test_reference_without_cpus_is_malformed_and_replaced(tmp_path):
    """The committed pre-guard artifact records no `cpus`: it is
    malformed, so the next run becomes the reference (even a slower,
    more loaded one) and no run ratios against it."""
    import json

    from bench import choose_self_artifact, load_idle_reference

    legacy = _artifact(None, 0.1, total=100.0)
    path = tmp_path / "BENCH_SELF.json"
    path.write_text(json.dumps(legacy))
    slower = _artifact(8, 0.1, total=150.0, canary=2.0)
    assert choose_self_artifact(slower, legacy) == "BENCH_SELF.json"
    assert load_idle_reference(8, 0.1, str(path)) == {}


def test_compact_result_line_is_small_and_standalone():
    # VERDICT r14 #2: the r13 round-over-round comparison died because
    # the final stdout line (~25 KB with runs/aux/canary brackets) was
    # truncated mid-JSON by the capture. The contract line must carry
    # the driver-compared fields, parse standalone, and stay < 8 KB at
    # full 150-query registry width.
    import json

    from bench import HEADLINE, compact_result

    full = {
        "metric": "headline_queries_total_sec",
        "value": 123.456,
        "unit": "sec",
        "queries": {name: 12.345 for name in HEADLINE},
        "runs": {name: 2 for name in HEADLINE},
        "aux": {"ann_ivf_index_build": 1.0},
        "canary_sec": 0.9,
        "canary_method": "steady-v2",
        "canary": {"start": {}, "end": {}},
        "sustained": {"start": 2.5, "end": 2.6},
        "loadavg": {"start": [0, 0, 0], "end": [0, 0, 0]},
        "sf": 0.1,
        "timing": "noop-sink write ...",
    }
    line = json.dumps(compact_result(full), separators=(",", ":"))
    assert len(line) < 8_000
    parsed = json.loads(line)
    # the driver contract fields survive ...
    assert parsed["metric"] == "headline_queries_total_sec"
    assert parsed["value"] == 123.456
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert set(parsed["queries"]) == set(HEADLINE)
    # ... the calibration scalars survive ...
    assert parsed["canary_sec"] == 0.9
    assert parsed["sustained"] == {"start": 2.5, "end": 2.6}
    assert parsed["cpus"] >= 1
    # ... and the bulky diagnostics are file-only (BENCH_SELF.json)
    assert "runs" not in parsed
    assert "aux" not in parsed
    assert "loadavg" not in parsed
    assert "canary" not in parsed


def test_steal_pct_brackets():
    # r15: host-level vCPU steal (invisible to guest cgroup stats) is
    # what inflated late-registry queries positionally in the r14
    # driver run; the artifact now carries the attribution scalar.
    from bench import read_steal_ticks, steal_pct

    # 10% of the elapsed ticks stolen
    assert steal_pct((100, 10_000), (200, 11_000)) == 10.0
    # missing brackets or no elapsed time -> None, never a crash
    assert steal_pct(None, (200, 11_000)) is None
    assert steal_pct((100, 10_000), None) is None
    assert steal_pct((100, 10_000), (100, 10_000)) is None
    # on this CI box /proc/stat exists and parses
    ticks = read_steal_ticks()
    assert ticks is not None and ticks[1] > 0 and ticks[0] >= 0
