"""Emit PLANS.md: the physical plan tree + scan pushdown details for a
representative set of queries, as reviewable evidence that the
100 TB-relevant plan shapes hold (single-shuffle replay, zero-shuffle
map ops, broadcast dims, pushed filters, pruned schemas, no nested
loops). tests/test_plans.py asserts these properties; this renders them.

Usage: python tools/plan_report.py [sf_dir] (default sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from warp_pipe_spark.session import get_spark

SHOW = [
    ("cs_replay_final_state", "flagship replay: ONE shuffle + WindowGroupLimit both sides"),
    ("cs_incremental_merge", "3-batch tombstone merge, converges to replay"),
    ("cs_truncate_replay", "truncate table-clear: broadcast per-table marks + the same single fold exchange"),
    ("dedup_minhash_sig", "zero-shuffle signature map stage"),
    ("dedup_ngram_jaccard", "inverted index keyed by 60-bit hash"),
    ("tpch_q1", "pushdown + pruning + single agg shuffle"),
    ("tpch_q3", "no forced broadcasts: AQE/stats pick the join strategy"),
    ("events_topk_users", "map-side WindowGroupLimit top-k"),
    ("events_heavy_hitters", "two-stage salted agg + TakeOrdered"),
    ("events_asof_lastchange", "as-of via union+window, no nested loop"),
    ("events_range_join", "bucketed range join, hash-join land"),
    ("docs_clean_corpus", "composed cleaning pass (uncapped semantics via AllPairs prefix index: rank window + array_intersect verify; hot shingles never enter a posting list)"),
    ("docs_clean_corpus_capped", "production cleaning pass: hot-shingle anti-join before posting lists"),
    ("tpch_q7", "nation-only hints; AQE broadcasts at small SF, shuffles at 100 TB"),
    ("tpch_q18", "post-agg survivor set broadcast back into orders"),
    ("events_kmv_distinct", "KMV sketch: TakeOrdered k-smallest, no global sort"),
    ("dedup_clusters", "star contraction via the shared star-CC memo: same frame as dedup_clusters_star"),
    ("multimodal_frame_sample", "zero-shuffle sequence-explode expansion"),
    ("text_gopher_rules", "2-gram stats ride the word shuffle: two aggs, zero joins"),
    ("dedup_clusters_star", "star contraction: O(log^2) rounds, converged star frame"),
    ("tpch_q22", "scalar one-row average broadcast + anti-join on quarter slice"),
    ("tpch_q21", "EXISTS/NOT-EXISTS as semi+anti joins sharing the l_orderkey key"),
    ("tpch_q12", "orders-lineitem conditional agg: one join, one agg shuffle"),
    ("docs_bm25", "corpus stats broadcast onto (doc,term) tf; TakeOrdered top-k"),
    ("docs_tfidf_topterms", "per-doc WindowGroupLimit rank over broadcast df join"),
    ("emb_kmeans", "centroid assignment: broadcast k-row join, min_by, no window"),
    ("events_pagerank", "join-agg rank loop: checkpointed rank frame x edge list"),
    ("docs_stratified_sample", "count + rank in ONE stratum-keyed Window exchange"),
    ("dedup_minhash_indexed", "batch bands joined against band-partitioned index"),
    ("events_value_hist", "histogram registers: one map-side-partial groupBy"),
    ("docs_chunk_texts", "chunk materialization: layout window + one bounded-group agg"),
    ("docs_quality_model", "classifier application: zero-shuffle weight-lookup fold"),
    ("docs_cluster_keep_best", "keep-best resolution: keyed struct-max, no arrays"),
    ("docs_chunk_overlap", "sliding windows: constant fan-out, bounded-group agg"),
    ("events_attribution", "interval stream-stream join twin: hash join + time filter"),
    ("events_attribution_last_asof", "skew-proof last-touch: one window exchange, no join"),
    ("emb_pq_codes", "PQ encode: broadcast codebook, one groupBy of struct-min argmins"),
    ("emb_pq_adc_topk", "ADC search: broadcast LUT join + WindowGroupLimit top-k"),
    ("ann_ivf_pq_topk", "full IVF-PQ: probed-cell candidates scored by code lookups"),
    ("docs_scrub_dup_spans", "ExactSubstr removal: streaming count+min per hash, ONE bounded kill window, no posting lists"),
    ("docs_temperature_mix", "temperature rebalance: 20-row broadcast rates join, corpus never shuffles"),
]


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_report")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical-plan evidence (auto-generated by tools/plan_report.py)",
        "",
        f"Source: `{sf}`. Trees are `explain('formatted')`; scan lines show",
        "the pushdown/pruning Catalyst achieved. Shuffle count = `Exchange`",
        "nodes in the tree. tests/test_plans.py asserts the load-bearing",
        "properties; regenerate with `python tools/plan_report.py`.",
        "",
    ]
    for name, why in SHOW:
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        tree = plan.split("\n\n")[0]
        n_ex = len(re.findall(r"[+:]- Exchange", tree))
        scans = re.findall(r"(PushedFilters: \[[^\]]*\]|ReadSchema: [^\n]{0,160})", plan)
        out.append(f"## {name}\n")
        out.append(f"_{why}_ — **{n_ex} shuffle(s)**\n")
        out.append("```\n" + tree + "\n```\n")
        if scans:
            out.append("Scan details:\n")
            for s in dict.fromkeys(scans):  # dedup, keep order
                out.append(f"- `{s}`")
            out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(SHOW)} queries)")


if __name__ == "__main__":
    main()
