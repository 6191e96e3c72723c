"""Benchmark every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric", "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf", "cpus", "steal_pct"}, under 8 KB. The full
artifact (plus the "aux" splits and the per-query "layers") goes to
BENCH_SELF.json, or to BENCH_SELF_LAST.json when the committed
reference was measured at another core count or scale factor.

Timing: each query writes to the noop sink, so every output column is
materialized (.count() would let Catalyst prune the query's work).
Every HEADLINE query outside SINGLE_SHOT runs twice and the min is
recorded; SINGLE_SHOT queries run once.

Environment and layers: `steal_pct` is the share of the run's CPU ticks
the host withheld (perfbench.env): on shared hosts steal, not the code,
moves wall clock. `layers[name]` holds the Spark status-store counters
(jobs, stages, tasks, executor run/CPU/GC ms, shuffle, spill, driver
gap; perfbench.trace.spark_layer) and the Python-worker totals over the
window of the recorded run, plus its `build_ms` (call → DataFrame; the
rest of the run is the write); host load moves none of the counts and
bytes among them.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from perfbench.env import read_cpu_ticks, steal_pct
from perfbench.trace import RETAIN_CONF, SparkStatus, spark_layer
from warp_pipe_spark.session import DEFAULT_CPUS, get_spark

HEADLINE = [
    "cs_replay_final_state",
    "cs_checksum",
    "cs_since_id",
    "cs_checksum_scalable",
    "cs_pipeline_stages",
    "cs_pipeline_deadletter",
    "cs_snapshot_diff",
    "cs_scd2_intervals",
    "cs_attribute_changes",
    "cs_audit_decode",
    "cs_wal2json_decode",
    "cs_debezium_decode",
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "events_hourly",
    "events_sliding_hourly",
    "events_sessionize",
    "events_rollup",
    "events_cube",
    "events_moving_window",
    "events_daily_active",
    "events_props_json",
    "events_heavy_hitters",
    "events_topk_users",
    "events_user_running",
    "events_asof_lastchange",
    "events_range_join",
    "events_gaps",
    "events_kmv_distinct",
    "events_hll_registers",
    "events_cms_registers",
    "events_percentiles",
    "events_funnel",
    "events_cohort_retention",
    "events_anomaly_mad",
    "events_transitions",
    "dedup_exact",
    "dedup_minhash_sig",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_drop_list",
    "docs_clean_corpus",
    "docs_clean_corpus_capped",
    "docs_hash_split",
    "docs_contamination",
    "docs_vocabulary",
    "docs_vocab_coverage",
    "docs_dup_spans",
    "docs_source_mix",
    "docs_token_percentiles",
    "docs_mix_rebalance",
    "text_quality",
    "text_fingerprints",
    "text_token_stats",
    "text_langid",
    "text_gopher_rules",
    "docs_pii_scrub",
    "docs_unigram_lm",
    "docs_bpe_pairs",
    "ann_topk",
    "ann_ivf_topk",
    "ann_ivf_indexed",
    "ann_lsh_pairs_auto",
    "dedup_embedding_lsh_auto",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_decode_real",
    "multimodal_resize_real",
    "multimodal_phash",
    "multimodal_audio_real",
    "multimodal_audio_frames",
    "multimodal_image_tiles",
    "multimodal_video_diffs",
    "multimodal_video_frames",
    "docs_bm25",
    "docs_tfidf_topterms",
    "emb_kmeans",
    "emb_semdedup",
    "emb_semdedup_auto",
    "emb_pq_codes",
    "emb_pq_adc_topk",
    "dedup_lsh_eval",
    "ann_ivf_pq_topk",
    "ann_recall_eval",
    "events_pagerank",
    "docs_stratified_sample",
    "docs_weighted_sample",
    "dedup_minhash_indexed",
    "events_value_hist",
    "docs_pack_chunks",
    "docs_chunk_texts",
    "docs_lm_logppl",
    "docs_bigram_ppl",
    "dedup_containment",
    "docs_hash_embed",
    "docs_text_ann",
    "cs_state_asof",
    "events_kmv_setops",
    "docs_quality_model",
    "docs_cluster_keep_best",
    "docs_quality_gate",
    "docs_chunk_overlap",
    "events_attribution",
    "events_attribution_last",
    "events_attribution_last_asof",
    # complete coverage: every remaining registered query (cheap CDC
    # primitives + the small-N exact embedding pairs), so BENCH_SELF
    # times the FULL registry
    "cs_keyset_poll_stream",
    "cs_incremental_merge",
    "cs_count_stats",
    "cs_kind_normalize",
    "cs_point_lookup",
    "cs_replay_dedup",
    "cs_truncate_replay",
    "cs_retention",
    "cs_since_ts",
    "cs_whitelist_ignore",
    "cs_pk_collect",
    # round 12 registrations (ann_nn_descent MUST precede
    # ann_graph_search: they share the memoized k_build=20 working
    # graph, so the build is paid once and the search entry times the
    # search, exactly as a production serve path would)
    "docs_repetition_signals",
    "docs_dedup_lines",
    "docs_decontaminate",
    "docs_select_token_budget",
    "multimodal_decode_png",
    "ann_nn_descent",
    "ann_graph_search",
    # round 13 registrations (funded by retiring dedup_embedding +
    # dedup_embedding_lsh — both stay pytest-pinned, the _auto twin
    # stays benched above)
    "docs_scrub_dup_spans",
    "docs_temperature_mix",
]


#: Queries timed exactly once regardless of speed: each call builds
#: and commits real state (tempdir sinks, persisted indexes, a
#: multi-round poll soak), so a second run times a DIFFERENT workload
#: (fresh tempdir, re-warmed state) rather than a repeat of the same
#: one — min-of-2 would not mean "same work, less jitter" there.
SINGLE_SHOT = frozenset(
    {
        "cs_keyset_poll_stream",  # multi-round poll→sink→offset soak
        "cs_state_asof",  # three versioned sink commits
        "ann_ivf_indexed",  # persisted IVF index build + probe
        "dedup_minhash_indexed",  # persisted index build+update+query
        "ann_nn_descent",  # memoized shared graph: a rerun times a
        "ann_graph_search",  # cache read, not the build/search work
    }
)


def choose_self_artifact(result: dict, prev: dict | None) -> str:
    """Which repo file this run's artifact lands in. BENCH_SELF.json
    holds the reference run; a run at another core count or scale
    factor than it goes to BENCH_SELF_LAST.json, since the two cannot
    be ratioed (a faster run may just have more cores) and it must not
    replace the reference. A missing reference, or one that records no
    `cpus`, is malformed and is replaced."""
    try:
        same = int(prev["cpus"]) == result["cpus"]
        same = same and prev.get("sf") == result.get("sf")
    except (KeyError, TypeError, ValueError):
        return "BENCH_SELF.json"
    return "BENCH_SELF.json" if same else "BENCH_SELF_LAST.json"


def time_min(name: str, build, write) -> tuple[float, float, float]:
    """(seconds, start time, build seconds) of the fastest of `name`'s
    timed calls: two, or one for SINGLE_SHOT. A call is `build()` (the
    call → DataFrame phase, timed on its own) then `write` of what it
    returned."""
    samples = []
    for _ in range(1 if name in SINGLE_SHOT else 2):
        t0 = time.time()
        out = build()
        t1 = time.time()
        write(out)
        samples.append((time.time() - t0, t0, t1 - t0))
    return min(samples)


def layer_profile(
    status: SparkStatus,
    windows: dict[str, tuple[float, float]],
    builds: dict[str, float],
) -> dict[str, dict[str, float]]:
    """Per query: the Spark layer counters and the Python-worker totals
    over the (start, end) window of its recorded run, and `build_ms`,
    that run's call → DataFrame time (`builds`, seconds)."""
    return {
        name: {
            **spark_layer(status.window(lo, hi)),
            **status.python_window(lo, hi),
            "build_ms": round(builds[name] * 1000, 1),
        }
        for name, (lo, hi) in windows.items()
    }


def split_keyset_rounds(
    per_round: list[tuple[float, int]], limit: int
) -> dict[str, float]:
    """Partition the keyset-poll soak's per-round (seconds, rows)
    timings into drain vs one steady-state micro-batch. The steady
    entry is the last FULL-sized applied round that had at least one
    predecessor (populated state); the n-mod-limit remainder and every
    setup round are drain. Invariants (pinned in tests/test_bench.py):
    the two entries sum to the whole soak, and a single-round drain
    emits no steady entry rather than a misleading 0.0."""
    aux: dict[str, float] = {}
    full = [i for i, (_, n) in enumerate(per_round) if i > 0 and n == limit]
    if full:
        steady_i = full[-1]
        aux["keyset_poll_steady_batch"] = round(per_round[steady_i][0], 3)
        aux["keyset_poll_drain"] = round(
            sum(t for i, (t, _) in enumerate(per_round) if i != steady_i), 3
        )
    elif per_round:
        aux["keyset_poll_drain"] = round(sum(t for t, _ in per_round), 3)
    return aux


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark("warp_pipe_bench", extra_conf=RETAIN_CONF)
    qs = entrymod.queries()

    # warm the JVM + parquet footers with the flagship once
    qs["cs_replay_final_state"](spark, sf_dir).count()
    ticks_start = read_cpu_ticks()

    # (the shared star-CC memo stays warm across queries here — sharing
    # the clustering across its consumers is the intended execution
    # model; tools/scale_probe.py clears it to time raw computation)
    times: dict[str, float] = {}
    windows: dict[str, tuple[float, float]] = {}
    builds: dict[str, float] = {}
    for name in HEADLINE:
        sec, t0, builds[name] = time_min(
            name,
            lambda: qs[name](spark, sf_dir),
            lambda df: df.write.format("noop").mode("overwrite").save(),
        )
        times[name] = round(sec, 3)
        windows[name] = (t0, t0 + sec)
    layers = layer_profile(SparkStatus(spark).read(), windows, builds)

    # Instrumentation splits live in a SEPARATE dict: several re-time
    # work a registered headline query above already paid for (e.g. the
    # keyset soak, the IVF build inside ann_ivf_indexed), so folding
    # them into the headline total would double-count and break
    # round-over-round comparability of `value`. They are emitted under
    # "aux" in the result JSON instead.
    aux: dict[str, float] = {}

    # ann_ivf_indexed above pays a full index BUILD per run (the
    # registered query is self-contained for the oracle); split the
    # two phases so the steady-state probe cost — the number that
    # matters for a persisted index — is visible (VERDICT r4 item 7).
    import tempfile

    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.similarity import build_ivf_index, ivf_topk_indexed
    from warp_pipe_spark.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    ivf_dir = tempfile.mkdtemp(prefix="wp_bench_ivf_")
    t0 = time.time()
    build_ivf_index(emb, ivf_dir, n_centroids=10)
    aux["ann_ivf_index_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    ivf_topk_indexed(
        spark, emb.filter(F.col("vec_id") < 10), ivf_dir, k=5, n_probe=3
    ).write.format("noop").mode("overwrite").save()
    aux["ann_ivf_probe_only"] = round(time.time() - t0, 3)

    # same split for the incremental MinHash index: the registered
    # query pays build+update+query per run for oracle comparability;
    # steady-state ingest pays only update+query.
    from warp_pipe_spark.datapipe.dedup_index import (
        build_minhash_index,
        query_minhash_index,
        update_minhash_index,
    )

    docs = read_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    mh_dir = tempfile.mkdtemp(prefix="wp_bench_mhidx_")
    t0 = time.time()
    build_minhash_index(docs.filter(F.col("doc_id") % 10 != 7), mh_dir)
    aux["mhidx_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    update_minhash_index(batch, mh_dir, 0)
    query_minhash_index(spark, batch, mh_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    aux["mhidx_ingest_batch"] = round(time.time() - t0, 3)
    # maintenance cost (VERDICT r10 item 6): compaction rewrites each
    # band partition to one file (the Delta-OPTIMIZE analogue for the
    # append-only index). Timed on the build+1-batch index above so the
    # per-round artifact re-measures it; the 804-files→4 / 2.6× query
    # win at 16x ingest lives in SCALE.md round 10.
    from warp_pipe_spark.datapipe.dedup_index import compact_minhash_index

    t0 = time.time()
    compact_minhash_index(spark, mh_dir)
    aux["mhidx_compact"] = round(time.time() - t0, 3)

    # (the r11 repsig_suite aux entry is gone: docs_repetition_signals
    # is a registered HEADLINE query as of r12, so the aux would have
    # double-paid the 9-family explode every run)

    # round-14 library ops (queued, not registered — the rotation is
    # saturated): steady costs measured per round so the artifacts
    # carry real numbers without touching the 50-query window. Each is
    # a single noop-sink run; 10x probes live in SCALE.md.
    from warp_pipe_spark.datapipe.bloom import (
        bloom_gate_packed,
        build_bloom,
    )
    from warp_pipe_spark.datapipe.clustering import prototypes_prune
    from warp_pipe_spark.datapipe.profile import profile_table
    from warp_pipe_spark.datapipe.retrieval import (
        bm25_topk_indexed,
        build_text_index,
    )
    from warp_pipe_spark.datapipe.similarity import semantic_decontaminate
    from warp_pipe_spark.datapipe.timeseries import ts_topk_similar

    ev = read_table(spark, sf_dir, "events")
    t0 = time.time()
    ts_topk_similar(ev, k=3, segments=4).write.format("noop").mode(
        "overwrite"
    ).save()
    aux["ts_topk_similar"] = round(time.time() - t0, 3)

    t0 = time.time()
    prototypes_prune(emb, keep_micro=250_000).write.format("noop").mode(
        "overwrite"
    ).save()
    aux["prototypes_prune"] = round(time.time() - t0, 3)

    ref_keys = docs.select(F.col("doc_id").alias("key"))
    t0 = time.time()
    bloom_words = build_bloom(ref_keys, m_bits=1 << 22, k_hashes=4)
    bloom_gate_packed(
        ref_keys, bloom_words, m_bits=1 << 22, k_hashes=4
    ).write.format("noop").mode("overwrite").save()
    aux["bloom_build_and_gate"] = round(time.time() - t0, 3)

    t0 = time.time()
    semantic_decontaminate(
        emb, emb.filter("vec_id % 50 = 0"), threshold=0.9
    ).write.format("noop").mode("overwrite").save()
    aux["semantic_decontaminate"] = round(time.time() - t0, 3)

    tidx_dir = tempfile.mkdtemp(prefix="wp_bench_tidx_")
    t0 = time.time()
    build_text_index(docs.select("doc_id", "text"), tidx_dir)
    aux["tidx_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    bm25_topk_indexed(
        spark, tidx_dir, ["the", "data", "pipeline"]
    ).write.format("noop").mode("overwrite").save()
    aux["tidx_query"] = round(time.time() - t0, 3)

    t0 = time.time()
    profile_table(
        docs.select("doc_id", "source", "text")
    ).write.format("noop").mode("overwrite").save()
    aux["profile_table"] = round(time.time() - t0, 3)

    # keyset-poll split (VERDICT r5 item 6): the registered
    # cs_keyset_poll_stream is a full drain-from-empty soak, opaque as
    # one number. Time each poll→sink→offset round separately: the
    # last FULL-sized applied round after at least one prior round is
    # the steady-state micro-batch onto already-populated state — the
    # per-round cost a long-lived tail actually pays; every other
    # round (including the n-mod-limit remainder) is drain. The two
    # entries partition the soak (no round counted twice, none
    # dropped); a soak that drains in a single round reports wholly as
    # drain with no misleading steady entry.
    from warp_pipe_spark.streaming import (
        KeysetPoller,
        ParquetStateSink,
        dataframe_keyset_fetch,
    )

    from warp_pipe_spark.io import scratch_dir

    cs = entrymod._cs(spark, sf_dir)
    n_total = cs.count()
    # tmpfs-backed, like the registered soak: keyset_poll_drain was the
    # committed reference's storage-variance absorber (12.98→18.2 s on
    # quiet machines); on RAM it measures the poller, not disk aging
    ks_base = scratch_dir("wp_bench_keyset_")
    ks_sink = ParquetStateSink(
        spark, os.path.join(ks_base, "state"), pk_cols=["pk"]
    )
    poller = KeysetPoller(
        spark,
        dataframe_keyset_fetch(cs),
        ks_sink,
        os.path.join(ks_base, "offset.json"),
        limit=max(4000, -(-n_total // 8)),
    )
    per_round: list[tuple[float, int]] = []
    while True:
        r0 = time.time()
        applied = poller.poll_once()
        if applied == 0:
            break
        per_round.append((time.time() - r0, applied))
    aux.update(split_keyset_rounds(per_round, poller.limit))
    # nothing reads the sink after the split — free the tmpfs pages
    # (a leaked /tmp dir was disk; a leaked /dev/shm dir is RAM)
    import shutil

    shutil.rmtree(ks_base, ignore_errors=True)

    result = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "aux": aux,
        "layers": layers,
        "steal_pct": steal_pct(ticks_start, read_cpu_ticks()),
        "sf": sf,
        "cpus": DEFAULT_CPUS,
        "timing": (
            "noop-sink write, all output columns materialized; min of 2 "
            "runs, 1 run for the SINGLE_SHOT soak/sink fixtures"
        ),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_SELF.json")) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = None
    try:
        with open(os.path.join(here, choose_self_artifact(result, prev)), "w") as f:
            json.dump(result, f, indent=1)
    except OSError:
        pass
    print(json.dumps(compact_result(result), separators=(",", ":")))


def compact_result(result: dict) -> dict:
    """The final stdout line: the driver-compared fields and the
    environment scalars, small enough that a capture which keeps only
    the tail of stdout cannot truncate it (pinned < 8 KB in
    tests/test_bench.py). Everything else is in the full artifact."""
    keys = ("metric", "value", "unit", "queries", "sf", "cpus", "steal_pct")
    return {k: result.get(k) for k in keys}


if __name__ == "__main__":
    main()
