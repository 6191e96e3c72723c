"""Pins for bench.py's artifact-shaping logic."""

import pytest

from bench import split_keyset_rounds

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


def test_plan_runs_soak_fixtures_are_always_single_shot():
    # sink/soak fixtures commit real state per call: a rerun times a
    # DIFFERENT workload (fresh tempdir), so min-of-2 is undefined and
    # time_min gives each of them exactly one timed call.
    from bench import SINGLE_SHOT, time_min

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
        calls = []
        sec, t0, build = time_min(name, lambda: calls.append(1), lambda _: None)
        assert len(calls) == 1
        assert 0 <= build <= sec < 1 and t0 > 0


def test_time_min_records_the_faster_of_two_runs():
    # every other query runs twice and records the min: a slow first
    # (cold) call must not reach the artifact.
    import time

    from bench import time_min

    naps = [0.05, 0.0]
    written = []
    sec, t0, build = time_min(
        "docs_bm25", lambda: time.sleep(naps.pop(0)) or len(naps), written.append
    )
    assert naps == [] and written == [1, 0]
    assert 0 <= build <= sec < 0.05 and t0 > 0


def test_single_shot_names_are_registered_headline_queries():
    # guard against a rename in queries() silently orphaning an entry
    # in SINGLE_SHOT (it would quietly start being re-timed)
    from bench import HEADLINE, SINGLE_SHOT

    assert SINGLE_SHOT <= set(HEADLINE)


def _artifact(cpus, sf, total=120.0):
    out = {
        "sf": sf,
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
def test_reference_from_another_setup_is_never_compared(ref_cpus, ref_sf):
    """An 8-core sf0.1 run against a reference from another core count
    or scale: the run is diverted to BENCH_SELF_LAST.json even when it
    is faster (faster may just mean more cores)."""
    from bench import choose_self_artifact

    same = (ref_cpus, ref_sf) == (8, 0.1)
    faster = _artifact(8, 0.1, total=100.0)
    assert choose_self_artifact(faster, _artifact(ref_cpus, ref_sf)) == (
        "BENCH_SELF.json" if same else "BENCH_SELF_LAST.json"
    )


def test_reference_without_cpus_is_malformed_and_replaced():
    """An artifact that records no `cpus` (or no reference at all) is
    malformed, so the next run becomes the reference, even a slower
    one."""
    from bench import choose_self_artifact

    legacy = _artifact(None, 0.1, total=100.0)
    slower = _artifact(8, 0.1, total=150.0)
    for ref in (legacy, None, {"bad": 1}):
        assert choose_self_artifact(slower, ref) == "BENCH_SELF.json"


def test_committed_reference_records_its_setup():
    """The committed BENCH_SELF.json records the core count, scale
    factor and every HEADLINE query, so a run at its setup is compared
    with it; without `cpus` any run would replace it."""
    import json
    import os

    from bench import HEADLINE, choose_self_artifact

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_SELF.json")) as f:
        ref = json.load(f)
    assert isinstance(ref["cpus"], int) and ref["cpus"] > 0
    assert isinstance(ref["sf"], float) and ref["sf"] > 0
    assert set(HEADLINE) <= set(ref["queries"])
    run = {"cpus": ref["cpus"], "sf": ref["sf"], "value": 1.0}
    assert choose_self_artifact(run, ref) == "BENCH_SELF.json"
    run["cpus"] = ref["cpus"] + 1
    assert choose_self_artifact(run, ref) == "BENCH_SELF_LAST.json"


def test_compact_result_line_is_small_and_standalone():
    # the final stdout line must carry the driver-compared fields and
    # the environment, parse standalone, and stay < 8 KB at full
    # registry width: a ~25 KB line was once truncated mid-JSON by a
    # capture that kept only the tail of stdout.
    import json

    from bench import HEADLINE, compact_result

    full = {
        "metric": "headline_queries_total_sec",
        "value": 123.456,
        "unit": "sec",
        "queries": {name: 12.345 for name in HEADLINE},
        "aux": {"ann_ivf_index_build": 1.0},
        "layers": {name: {"spark.jobs": 3} for name in HEADLINE},
        "steal_pct": 0.125,
        "sf": 0.1,
        "cpus": 4,
        "timing": "noop-sink write ...",
    }
    line = json.dumps(compact_result(full), separators=(",", ":"))
    assert len(line) < 8_000
    # the bulky diagnostics (aux, layers) are file-only (BENCH_SELF.json)
    assert json.loads(line) == {
        "metric": "headline_queries_total_sec",
        "value": 123.456,
        "unit": "sec",
        "queries": full["queries"],
        "sf": 0.1,
        "cpus": 4,
        "steal_pct": 0.125,
    }


def test_layers_cover_every_headline_query():
    # the full artifact's `layers` schema: one entry per HEADLINE query
    # holding every spark_layer key and the Python-worker totals, each
    # counted over that query's own window only, and its build_ms
    from bench import HEADLINE, layer_profile
    from perfbench.trace import PYTHON_METRICS, SparkStatus, Window, spark_layer

    status = SparkStatus(spark=None)
    status.jobs = [{"submissionTime": 10_500}]
    status.stages = [
        {
            "submissionTime": 10_500,
            "completionTime": 10_900,
            "numCompleteTasks": 4,
            "executorRunTime": 300,
            "executorCpuTime": 200e6,
            "jvmGcTime": 5,
            "shuffleReadBytes": 0,
            "shuffleWriteBytes": 64,
            "diskBytesSpilled": 0,
            "outputBytes": 0,
            "outputRecords": 0,
        }
    ]
    status.python = [(10.6, {"python_run_ms": 7.0})]
    windows = {name: (20.0 + i, 20.5 + i) for i, name in enumerate(HEADLINE)}
    windows[HEADLINE[0]] = (10.0, 11.0)
    builds = {name: 0.0 for name in HEADLINE}
    builds[HEADLINE[0]] = 0.0123
    layers = layer_profile(status, windows, builds)

    assert list(layers) == HEADLINE
    keys = set(spark_layer(Window())) | set(PYTHON_METRICS.values()) | {"build_ms"}
    assert all(set(v) == keys for v in layers.values())
    first = layers[HEADLINE[0]]
    assert first["build_ms"] == 12.3
    assert (first["spark.jobs"], first["spark.stages"], first["spark.tasks"]) == (1, 1, 4)
    assert first["spark.executor_cpu_ms"] == 200.0
    assert first["spark.driver_gap_ms"] == 600.0
    assert first["python_run_ms"] == 7.0
    assert layers[HEADLINE[1]]["spark.jobs"] == 0


def test_steal_pct_brackets():
    # host-level vCPU steal (invisible to guest cgroup stats) inflated
    # late-registry queries positionally in one driver run; the
    # artifact carries the attribution scalar from perfbench.env.
    from perfbench.env import read_cpu_ticks, steal_pct

    # 10% of the elapsed ticks stolen
    assert steal_pct((100, 10_000), (200, 11_000)) == 10.0
    # missing brackets or no elapsed time -> None, never a crash
    assert steal_pct(None, (200, 11_000)) is None
    assert steal_pct((100, 10_000), None) is None
    assert steal_pct((100, 10_000), (100, 10_000)) is None
    # on Linux /proc/stat exists and parses
    ticks = read_cpu_ticks()
    assert ticks is not None and ticks[1] > 0 and ticks[0] >= 0
