"""Similarity-search operators: brute-force top-k, hyperplane LSH, IVF."""

import ast

import pytest

from warp_pipe_spark.datapipe.similarity import (
    hyperplane_lsh_pairs,
    hyperplane_signatures,
    ivf_topk_cosine,
    topk_cosine,
)
from warp_pipe_spark.io import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def test_topk_shape_and_ranks(emb):
    out = topk_cosine(emb, k=5, n_queries=4).collect()
    assert len(out) == 20
    by_q = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"]  # self excluded
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for q, rs in by_q.items():
        rs.sort()
        assert [r[0] for r in rs] == [1, 2, 3, 4, 5]
        sims = [r[1] for r in rs]
        assert sims == sorted(sims, reverse=True)  # rank follows similarity


def test_hyperplane_identical_vectors_same_signature(spark):
    rows = [(1, [0.5] * 16), (2, [0.5] * 16), (3, [-0.5] * 16)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    sigs = {r["vec_id"]: r["sig"] for r in hyperplane_signatures(df, 8).collect()}
    assert sigs[1] == sigs[2]
    pairs = {(r["vec_a"], r["vec_b"]) for r in hyperplane_lsh_pairs(df, 8, 2).collect()}
    assert (1, 2) in pairs


def test_ivf_recall_against_bruteforce(emb):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine(emb, k=5, n_queries=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_cosine(emb, k=5, n_queries=5, n_centroids=10, n_probe=3).collect()
    }
    # IVF probes 3/10 cells: imperfect recall is expected, zero overlap is a bug
    assert len(exact & approx) > 0
    assert len(approx) == 25


def test_ivf_persisted_index_prunes_partitions_and_matches(spark, sf_dir, tmp_path):
    """The persisted index must (a) return exactly the non-indexed IVF
    top-k and (b) show a cent_id partition filter on the cells scan —
    unprobed cell directories are pruned at file-listing time, the
    property that makes IVF pay off at 100 TB."""
    import re

    from warp_pipe_spark.datapipe.similarity import (
        build_ivf_index,
        ivf_topk_cosine,
        ivf_topk_indexed,
    )
    from warp_pipe_spark.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=10)

    out = ivf_topk_indexed(spark, emb.filter("vec_id < 10"), path, k=5, n_probe=3)
    want = ivf_topk_cosine(emb, k=5, n_queries=10, n_centroids=10, n_probe=3)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got_rows = sorted(
        ((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in out.collect())
    )
    want_rows = sorted(
        ((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in want.collect())
    )
    assert got_rows == want_rows and len(got_rows) == 50

    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "cent_id" in ln]
    assert pf, plan  # cells scan carries the literal cent_id IN (...) filter
    assert re.search(r"PartitionFilters: \[.*cent_id.* IN \(", pf[0]), pf[0]


def test_ivf_indexed_probe_collect_guard(spark, tmp_path):
    # VERDICT r2 item 6 + ADVICE r4: what reaches the driver is the
    # DISTINCT probed cent_ids, bounded by the codebook — so the guard
    # is on n_centroids. A large query batch against a small codebook
    # must be ALLOWED (the collect stays tiny); an oversized codebook
    # must refuse rather than swell the driver.
    import pytest as _pytest

    from warp_pipe_spark.datapipe.similarity import build_ivf_index, ivf_topk_indexed

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=4)
    queries = emb.limit(10)
    with _pytest.raises(ValueError, match="max_probe_collect"):
        ivf_topk_indexed(spark, queries, path, k=3, n_probe=2, max_probe_collect=0)
    # 10 queries x 2 probes = 20 > 5, but the codebook is tiny:
    # the old n_queries*n_probe proxy rejected this; the real bound allows it
    out = ivf_topk_indexed(
        spark, queries, path, k=3, n_probe=2, max_probe_collect=5
    )
    assert out.count() > 0


def test_auto_lsh_params_scale_with_corpus():
    # buckets grow linearly with rows → expected occupancy stays ≤ target
    from warp_pipe_spark.datapipe.similarity import auto_lsh_params

    p2k, b = auto_lsh_params(2_000)
    p20k, _ = auto_lsh_params(20_000)
    p2m, _ = auto_lsh_params(2_000_000)
    assert b == 4
    assert p2k < p20k < p2m  # log growth
    # 2k rows / target 64 → 5 bits/band; 10x rows adds fair ~3-4 bits
    assert p2k == 4 * 5 and p20k == 4 * 9
    # signature stays inside the 60-bit long at any corpus size
    assert auto_lsh_params(10**18)[0] <= 60


def test_lsh_auto_mode_emits_verifiable_pairs(spark):
    from warp_pipe_spark.datapipe.similarity import hyperplane_lsh_pairs

    rows = [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    pairs = hyperplane_lsh_pairs(emb, n_planes=None).collect()
    assert all(r["vec_a"] < r["vec_b"] for r in pairs)
    # exact duplicates always collide in every band
    dup = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 8)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    got = hyperplane_lsh_pairs(dup, n_planes=None).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in got} == {(0, 1)}


def test_auto_ivf_params_sqrt_scaling(spark, tmp_path):
    from warp_pipe_spark.datapipe.similarity import (
        auto_ivf_params,
        build_ivf_index,
        ivf_topk_indexed,
    )

    assert auto_ivf_params(2_000) == 45  # ceil(sqrt)
    assert auto_ivf_params(2_000_000) == 1415
    assert auto_ivf_params(1) == 4  # floor

    # auto-sized index is fully built (codebook not under-filled) and
    # searches correctly
    rows = [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(8)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    path = str(tmp_path / "ivf_auto")
    build_ivf_index(emb, path, n_centroids=None)
    n_cells = spark.read.parquet(path + "/centroids").count()
    assert n_cells == 18  # ceil(sqrt(300))
    out = ivf_topk_indexed(spark, emb.limit(5), path, k=3, n_probe=3)
    got = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in got)


def test_ivf_incremental_update_matches_full_build(spark, tmp_path):
    """build(90%) + update(10%) must search identically to build(100%)
    with the same codebook: the incremental index reaches the same
    cells, so probed-cell top-k results are identical."""
    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        update_ivf_index,
    )
    from warp_pipe_spark.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    full_dir = str(tmp_path / "ivf_full")
    incr_dir = str(tmp_path / "ivf_incr")
    build_ivf_index(emb, full_dir, n_centroids=5)
    # incremental: build WITHOUT the batch, then append it. Centroids
    # (every 50th vec_id) all fall outside the held-out batch, so both
    # indexes share the identical codebook.
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    build_ivf_index(emb.filter(F.col("vec_id") % 10 != 7), incr_dir, n_centroids=5)
    update_ivf_index(batch, incr_dir, 0)

    queries = emb.filter(F.col("vec_id") < 10)
    a = sorted(map(tuple, ivf_topk_indexed(spark, queries, full_dir, k=5).collect()))
    b = sorted(map(tuple, ivf_topk_indexed(spark, queries, incr_dir, k=5).collect()))
    assert a == b and a
    # the appended vectors are really searchable: a held-out vector
    # queried against the incremental index finds sane neighbors
    probe_q = batch.limit(1)
    got = ivf_topk_indexed(spark, probe_q, incr_dir, k=3).collect()
    assert len(got) == 3


def test_pq_codes_roundtrip_properties(spark):
    """PQ invariants: codebook vectors quantize to themselves with
    zero error; every code is in [0, k); qerr is non-negative and
    equals the sum of per-subspace errors recomputed in numpy."""
    import numpy as np

    from warp_pipe_spark.datapipe.similarity import pq_codes
    from warp_pipe_spark.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = {r["vec_id"]: r for r in pq_codes(emb, dim=64, m=4, k=4).collect()}
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.filter("vec_id < 40").collect()
    }
    cb = [vecs[i] for i in range(4)]
    for vid in range(4):
        r = rows[vid]
        assert [r[f"code_{j}"] for j in range(4)] == [vid] * 4
        assert r["qerr"] == 0.0
    for vid, v in vecs.items():
        r = rows[vid]
        total = 0.0
        for j in range(4):
            s = slice(j * 16, (j + 1) * 16)
            dists = [round(((v[s] - c[s]) ** 2).sum(), 6) for c in cb]
            best = min(range(4), key=lambda i: (dists[i], i))
            assert r[f"code_{j}"] == best, (vid, j)
            total += dists[best]
        assert abs(r["qerr"] - round(total, 6)) < 1e-9
        assert all(0 <= r[f"code_{j}"] < 4 for j in range(4))


def test_pq_adc_topk_rank_contract(spark):
    """ADC output contract: ranks are exactly 1..k per query, distances
    non-decreasing in rank, and the query row is excluded."""
    from warp_pipe_spark.datapipe.similarity import pq_adc_topk
    from warp_pipe_spark.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = pq_adc_topk(emb, k=5, n_queries=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        assert all(r["vec_id"] != qid for r in rs)


def test_pq_codes_rejects_dim_mismatch_loudly(spark):
    """A wrong `dim` must fail at runtime, not silently slice short
    subvectors into wrong distances."""
    import pytest

    from warp_pipe_spark.datapipe.similarity import pq_codes
    from warp_pipe_spark.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="expected dim=32"):
        pq_codes(emb, dim=32, m=4)


def test_lsh_rejects_non_divisible_planes_and_empty_corpus(spark):
    """Fail-loud guards: truncated n_planes // n_bands would silently
    compute sign bits no band reads (weaker bucketing than configured);
    an empty corpus with dim unset crashed on first()[...] instead of
    raising a clear error."""
    import pytest as _pytest

    from warp_pipe_spark.datapipe.similarity import (
        hyperplane_lsh_pairs,
        hyperplane_signatures,
    )

    df = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with _pytest.raises(ValueError, match="divisible"):
        hyperplane_lsh_pairs(df, n_planes=20, n_bands=3)
    empty = df.filter("vec_id < 0")
    with _pytest.raises(ValueError, match="empty"):
        hyperplane_signatures(empty, n_planes=8)


@pytest.mark.soak
def test_nn_descent_improves_recall_over_the_lsh_seed(spark):
    """The neighbor-of-neighbor iterations must strictly improve
    recall@k against the brute-force truth, starting from the
    LSH-seeded graph — the paper's core claim, checked on the real
    embedding fixture — and reach a usable graph in 3 iterations."""
    from warp_pipe_spark.datapipe.similarity import nn_descent, topk_cosine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k = 10
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine(emb, queries=emb, k=k).collect()
    }

    def recall(graph_rows):
        got = {(r["vec_id"], r["nbr_id"]) for r in graph_rows}
        return len(got & truth) / len(truth)

    r_seed = recall(nn_descent(emb, k=k, iters=0).collect())
    r_iter = recall(nn_descent(emb, k=k, iters=3).collect())
    assert r_iter > r_seed
    # measured 0.993 with the default 2k build width (0.42 seed);
    # build-at-k plateaus at 0.84 — the margin is the k_build trick
    assert r_iter >= 0.95, (r_seed, r_iter)


def test_nn_descent_excludes_zero_norm_vectors(spark):
    """The zero-norm contract (ADVICE r12), graph side: a zero vector
    ranks NaN cosine differently under Spark's Window (NaN first) vs
    np.lexsort (NaN last), so it is excluded from the graph outright —
    it appears as neither a node nor a neighbor, and no cos_sim in the
    output is NaN."""
    import math

    from warp_pipe_spark.datapipe.similarity import nn_descent

    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5)]) for i in range(40)]
    rows.append((99, [0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = nn_descent(emb, k=3, iters=1).collect()
    assert out
    ids = {r["vec_id"] for r in out} | {r["nbr_id"] for r in out}
    assert 99 not in ids
    assert all(not math.isnan(r["cos_sim"]) for r in out)


def test_nn_descent_is_deterministic(spark):
    from warp_pipe_spark.datapipe.similarity import nn_descent

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id < 120")
    a = sorted(map(tuple, nn_descent(emb, k=5, iters=2).collect()))
    b = sorted(map(tuple, nn_descent(emb, k=5, iters=2).collect()))
    assert a == b
    # every node with at least one candidate carries <= k ranked edges
    from collections import Counter

    per = Counter(t[0] for t in a)
    assert max(per.values()) <= 5


@pytest.mark.soak
def test_graph_search_high_recall_over_nn_descent_graph(spark):
    """Build the k-NN graph once, answer queries by batched greedy
    beam search: recall@10 against brute force must be high without
    any query ever scoring the whole corpus."""
    from warp_pipe_spark.datapipe.similarity import (
        graph_search,
        nn_descent,
        topk_cosine,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 40")
    k = 10
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine(emb, queries=queries, k=k).collect()
    }
    # search the WIDE graph (build width 2k) with beam 3k — the
    # HNSW-style composition; searching the truncated k-graph was
    # measured at 0.84 recall vs 0.99 here
    graph = nn_descent(emb, k=2 * k, iters=3)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in graph_search(
            graph, emb, queries, k=k, hops=3, beam=3 * k
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, recall
    # exactly k answers per query, deterministic ranks
    from collections import Counter

    per = Counter(q for q, _ in got)
    assert set(per.values()) == {k}


def test_registered_nn_descent_equals_the_direct_call(spark):
    """The registry's ann_nn_descent serves the rank<=10 truncation of
    a SHARED k_build=20 working graph (one build for both graph-ANN
    queries); this pins that the truncation is bit-identical to the
    standalone nn_descent(k=10, iters=2) call, so the sharing is a
    cost optimization, never a semantic one."""
    import __spark_entry__ as entrymod

    from warp_pipe_spark.datapipe.similarity import nn_descent

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    direct = sorted(
        map(tuple, nn_descent(emb, k=10, iters=2).collect())
    )
    shared = sorted(
        map(
            tuple,
            entrymod.queries()["ann_nn_descent"](spark, sf).collect(),
        )
    )
    assert direct == shared and len(shared) > 0


def test_graph_search_excludes_zero_norm_vectors(spark):
    """graph_search shares nn_descent's zero-norm contract (ADVICE
    r12 family): a zero-norm corpus vector must never surface as a
    neighbor (Spark's NaN-first desc ordering would rank its NaN
    cos_sim ABOVE every real candidate), and a zero-norm query
    returns no rows instead of an all-NaN ranking."""
    import math

    from warp_pipe_spark.datapipe.similarity import graph_search, nn_descent

    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1)]) for i in range(40)]
    emb_rows = rows + [(99, [0.0, 0.0])]
    emb = spark.createDataFrame(
        emb_rows, "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    graph = nn_descent(emb, k=3, iters=1)
    queries = spark.createDataFrame(
        [rows[0], rows[5], (99, [0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    out = graph_search(graph, emb, queries, k=3, hops=2).collect()
    assert out
    assert all(r["neighbor_id"] != 99 for r in out)
    assert all(r["query_id"] != 99 for r in out)
    assert all(not math.isnan(r["cos_sim"]) for r in out)


@pytest.mark.soak
def test_nn_graph_insert_recall_and_untouched_nodes(spark):
    """Incremental insert vs ground truth: build the graph on 90% of
    the fixture, insert the held-out 10%, then (a) the inserted nodes'
    final edges reach most of their brute-force top-k (the full
    rebuild reaches ~0.99; insert must stay close), (b) old nodes NOT
    adjacent to any candidate pass through bit-identically, (c) every
    node keeps <= k ranked edges with contiguous ranks, and (d) the
    whole update is deterministic across reruns."""
    import numpy as np

    from warp_pipe_spark.datapipe.similarity import nn_descent, nn_graph_insert

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id < 200")
    old = emb.filter("vec_id % 10 != 0")
    new = emb.filter("vec_id % 10 = 0")
    k = 10
    graph = nn_descent(old, k=k, iters=2, k_build=k).localCheckpoint()

    out = nn_graph_insert(graph, old, new, k=k).localCheckpoint()
    rows = out.collect()

    # (c) shape invariants
    by_node = {}
    for r in rows:
        by_node.setdefault(r["vec_id"], []).append((r["rank"], r["nbr_id"]))
    for n, es in by_node.items():
        ranks = sorted(r for r, _ in es)
        assert ranks == list(range(1, len(es) + 1)), (n, ranks)
        assert len(es) <= k

    # (a) recall of inserted nodes vs brute-force over old ∪ new
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def brute_topk(qid):
        q = vecs[qid]
        sims = []
        for vid, v in vecs.items():
            if vid == qid:
                continue
            d = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            sims.append((round(d, 6), -vid))
        sims.sort(reverse=True)
        return {-i for _, i in sims[:k]}

    new_ids = [r["vec_id"] for r in new.collect()]
    got = {
        nid: {e[1] for e in by_node.get(nid, [])} for nid in new_ids
    }
    hits = sum(len(got[q] & brute_topk(q)) for q in new_ids)
    recall = hits / (k * len(new_ids))
    # measured 0.975 (full rebuild reads 1.0); deterministic, so the
    # margin to the pin is real headroom, not flake allowance
    assert recall >= 0.9, recall

    # (b) untouched old nodes keep their edges bit-identically
    old_edges = {}
    for r in graph.collect():
        old_edges.setdefault(r["vec_id"], set()).add(
            (r["nbr_id"], r["rank"], r["cos_sim"])
        )
    new_set = set(new_ids)
    touched = {
        r["vec_id"]
        for r in rows
        if r["nbr_id"] in new_set and r["vec_id"] not in new_set
    }
    out_edges = {}
    for r in rows:
        out_edges.setdefault(r["vec_id"], set()).add(
            (r["nbr_id"], r["rank"], r["cos_sim"])
        )
    untouched_checked = 0
    for n, es in old_edges.items():
        if n not in touched and all(
            e[0] not in new_set for e in out_edges.get(n, ())
        ):
            if out_edges.get(n) == es:
                untouched_checked += 1
    assert untouched_checked > 0  # some nodes genuinely pass through

    # (d) determinism
    again = sorted(map(tuple, nn_graph_insert(graph, old, new, k=k).collect()))
    assert sorted(map(tuple, rows)) == again


def test_nn_graph_insert_rejects_colliding_ids(spark):
    import pytest as _pytest

    from warp_pipe_spark.datapipe.similarity import nn_descent, nn_graph_insert

    rows = [(i, [float(i % 5 + 1), float(i % 3 + 1)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    graph = nn_descent(emb, k=3, iters=1)
    dup = spark.createDataFrame(
        [(5, [1.0, 2.0])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    with _pytest.raises(ValueError, match="fresh ids"):
        nn_graph_insert(graph, emb, dup, k=3)


def test_nn_graph_delete_repairs_and_preserves_untouched(spark):
    """Delete-with-repair (nn_graph_insert's counterpart): deleted ids
    vanish as both nodes and neighbors; nodes that pointed at a
    deleted id repair from the deleted node's surviving neighbors
    (ranks contiguous, <= k edges); nodes touching no deleted id pass
    through bit-identically; deleting an absent id is a no-op; the
    whole update is deterministic."""
    from warp_pipe_spark.datapipe.similarity import nn_descent, nn_graph_delete

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id < 150")
    k = 8
    graph = nn_descent(emb, k=k, iters=2, k_build=k).localCheckpoint()
    dels = spark.createDataFrame(
        [(i,) for i in range(0, 150, 15)], "vec_id LONG"
    )
    del_set = {i for i in range(0, 150, 15)}

    out = nn_graph_delete(graph, emb, dels, k=k).localCheckpoint()
    rows = out.collect()
    ids = {r["vec_id"] for r in rows} | {r["nbr_id"] for r in rows}
    assert not (ids & del_set)

    by_node = {}
    for r in rows:
        by_node.setdefault(r["vec_id"], []).append((r["rank"], r["nbr_id"]))
    for n, es in by_node.items():
        ranks = sorted(rk for rk, _ in es)
        assert ranks == list(range(1, len(es) + 1)), (n, ranks)
        assert len(es) <= k

    # untouched nodes (no edge to a deleted id) bit-equal
    old = {}
    touched = set()
    for r in graph.collect():
        if r["vec_id"] in del_set:
            continue
        if r["nbr_id"] in del_set:
            touched.add(r["vec_id"])
        old.setdefault(r["vec_id"], set()).add(
            (r["nbr_id"], r["rank"], r["cos_sim"])
        )
    new = {}
    for r in rows:
        new.setdefault(r["vec_id"], set()).add(
            (r["nbr_id"], r["rank"], r["cos_sim"])
        )
    untouched = [n for n in old if n not in touched]
    assert untouched
    for n in untouched:
        assert new.get(n) == old[n], n
    # touched nodes actually repaired (most regain full width)
    assert touched
    regained = sum(1 for n in touched if len(new.get(n, ())) == k)
    assert regained >= len(touched) * 0.6, (regained, len(touched))

    # idempotent no-op: deleting ids the graph never held
    ghost = spark.createDataFrame([(9_999,)], "vec_id LONG")
    same = sorted(map(tuple, nn_graph_delete(graph, emb, ghost, k=k).collect()))
    assert same == sorted(map(tuple, graph.collect()))

    # determinism
    again = sorted(map(tuple, nn_graph_delete(graph, emb, dels, k=k).collect()))
    assert sorted(map(tuple, rows)) == again


def test_nn_graph_insert_empty_batch_is_identity(spark):
    """An empty insert batch (or one that is all zero-norm/NULL —
    outside the similarity universe) must return the graph
    row-identically: the maintenance pair is safe to drive from a
    stream that sometimes delivers nothing."""
    from warp_pipe_spark.datapipe.similarity import nn_descent, nn_graph_insert

    rows = [(i, [float(i % 5 + 1), float(i % 3 + 1)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    graph = nn_descent(emb, k=3, iters=1).localCheckpoint()
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")
    zeroes = spark.createDataFrame(
        [(100, [0.0, 0.0]), (101, None)], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    want = sorted(map(tuple, graph.collect()))
    for batch in (empty, zeroes):
        got = sorted(map(tuple, nn_graph_insert(graph, emb, batch, k=3).collect()))
        assert got == want


# --- semantic decontamination ----------------------------------------


def test_semantic_decontaminate_hand_fixture(spark):
    """Paraphrase-shaped fixture: a scaled copy of a bench vector
    flags at cos 1.0 (scale invariance), a nearby vector flags above
    threshold, an orthogonal one stays clean; two IDENTICAL bench
    vectors tie at 6 dp and the smaller bench_id wins; zero-norm and
    NULL vectors are excluded on both sides."""
    from warp_pipe_spark.datapipe.similarity import semantic_decontaminate

    bench = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),
            (11, [1.0, 0.0, 0.0, 0.0]),   # identical twin: tie -> 10
            (12, [0.0, 1.0, 0.0, 0.0]),
            (13, [0.0, 0.0, 0.0, 0.0]),   # zero-norm: excluded
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [3.0, 0.0, 0.0, 0.0]),     # scaled copy of bench 10/11
            (2, [0.95, 0.3122, 0.0, 0.0]), # near bench 10 (cos ~0.95)
            (3, [0.0, 0.0, 1.0, 0.0]),     # orthogonal to all: clean
            (4, [0.0, 0.0, 0.0, 0.0]),     # zero-norm: excluded
            (5, None),                     # NULL: excluded
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    out = {
        r["vec_id"]: (r["bench_id"], r["cos_sim"])
        for r in semantic_decontaminate(corpus, bench, threshold=0.9).collect()
    }
    assert set(out) == {1, 2}
    assert out[1] == (10, 1.0)  # tie between bench 10/11 -> smaller id
    assert out[2][0] == 10 and 0.9 <= out[2][1] < 1.0
    again = {
        r["vec_id"]: (r["bench_id"], r["cos_sim"])
        for r in semantic_decontaminate(corpus, bench, threshold=0.9).collect()
    }
    assert again == out


def test_semantic_decontaminate_bench_bound(spark):
    from warp_pipe_spark.datapipe.similarity import semantic_decontaminate

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    with pytest.raises(ValueError, match="max_bench"):
        semantic_decontaminate(emb, emb, max_bench=5)
    # empty benchmark -> empty result, not a crash
    empty = emb.filter("vec_id < 0")
    assert semantic_decontaminate(emb, empty).count() == 0


def test_semantic_decontaminate_finds_leaked_eval_items(spark, sf_dir):
    """On the real embeddings: 'benchmark' = every 50th vector, so
    those exact vectors are leaked into the corpus — each must flag
    itself at cos 1.0, and the flagged set must match the DuckDB
    brute-force replica bit-for-bit (fold cosine, 6 dp round,
    rank-1 by (cos DESC, bench_id ASC))."""
    import duckdb

    from warp_pipe_spark.datapipe.similarity import semantic_decontaminate

    emb = read_table(spark, sf_dir, "embeddings")
    bench = emb.filter("vec_id % 50 = 0")
    got = sorted(
        (r["vec_id"], r["bench_id"], r["cos_sim"])
        for r in semantic_decontaminate(emb, bench, threshold=0.9).collect()
    )
    leaked = {r["vec_id"] for r in bench.collect()}
    got_self = {v: (b, c) for v, b, c in got if v in leaked}
    assert set(got_self) == leaked
    assert all(b == v and c == 1.0 for v, (b, c) in got_self.items())

    fold = (
        "list_reduce([{x}[i] * {y}[i] FOR i IN range(1, len({x})+1)], "
        "(acc, v) -> acc + v)"
    )
    cos = (
        f"round(({fold.format(x='c.v', y='b.v')}) / "
        f"(sqrt({fold.format(x='c.v', y='c.v')}) * "
        f"sqrt({fold.format(x='b.v', y='b.v')})), 6)"
    )
    want = sorted(
        map(
            tuple,
            duckdb.sql(f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM read_parquet('{sf_dir}/embeddings.parquet')
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    b AS (SELECT vec_id AS bench_id, v FROM e WHERE vec_id % 50 = 0),
    s AS (
      SELECT c.vec_id, b.bench_id, {cos} AS cos_sim
      FROM e c CROSS JOIN b
    ),
    f AS (SELECT * FROM s WHERE cos_sim >= 0.9),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, bench_id ASC) AS rnk
      FROM f
    )
    SELECT vec_id, bench_id, cos_sim FROM r WHERE rnk = 1
    """).fetchall(),
        )
    )
    assert got == want


def test_ivf_cand_must_match_the_search_parameters(emb):
    """A pinned ivf_candidates set carries its n_queries/n_centroids/
    n_probe in query_id's metadata (through localCheckpoint); a search
    given cand= with other parameters, or a set without the stamp,
    raises instead of silently searching other probe decisions."""
    from warp_pipe_spark.datapipe.similarity import ivf_candidates, ivf_pq_topk

    cand = ivf_candidates(emb, n_queries=10, n_centroids=10, n_probe=3)
    cand = cand.localCheckpoint(eager=True)
    hand_built = emb.selectExpr("vec_id % 10 AS query_id", "vec_id")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for search in (ivf_topk_cosine, ivf_pq_topk):
        assert rows(search(emb, k=5, n_queries=10, cand=cand)) == rows(
            search(emb, k=5, n_queries=10)
        )
        with pytest.raises(ValueError, match="n_probe': 3"):
            search(emb, k=5, n_queries=10, n_probe=2, cand=cand)
        with pytest.raises(ValueError, match="stamp is None"):
            search(emb, k=5, n_queries=10, cand=hand_built)


# One vector zeroed and one NULL: both are query ids (< 10) and neither
# is a centroid (every 50th id) nor in the PQ codebook (ids 0..3).
_ZERO, _NULL = 7, 8


@pytest.fixture(scope="module")
def degenerate_emb(emb):
    from pyspark.sql import functions as F

    e = emb.select("vec_id", "embedding")
    vec = F.col("embedding")
    return e.withColumn(
        "embedding",
        F.when(F.col("vec_id") == _ZERO, F.transform(vec, lambda x: x * 0))
        .when(F.col("vec_id") == _NULL, F.lit(None).cast(e.schema["embedding"].dataType))
        .otherwise(vec),
    ).localCheckpoint(eager=True)


def _entry_point_rows(name, spark, e, tmp_path):
    from warp_pipe_spark.datapipe import similarity as sim
    from warp_pipe_spark.datapipe.clustering import semdedup_pairs
    from warp_pipe_spark.datapipe.dedup import embedding_near_dup_pairs

    queries, rest = e.filter("vec_id < 10"), e.filter("vec_id >= 10")
    if name == "topk_cosine":
        return sim.topk_cosine(e, k=5, n_queries=10)
    if name == "ivf_topk_cosine":
        return sim.ivf_topk_cosine(e, k=5, n_queries=10)
    if name == "ivf_pq_topk":
        return sim.ivf_pq_topk(e, k=5, n_queries=10)
    if name == "ivf_topk_indexed":
        sim.build_ivf_index(e, str(tmp_path / "ivf"), n_centroids=10)
        return sim.ivf_topk_indexed(spark, queries, str(tmp_path / "ivf"), k=5)
    if name == "nn_descent":
        return sim.nn_descent(e, k=5, iters=1)
    if name == "graph_search":
        graph = sim.nn_descent(e, k=10, iters=1)
        return sim.graph_search(graph, e, queries, k=5, hops=1)
    if name == "nn_graph_insert":
        graph = sim.nn_descent(rest, k=10, iters=1)
        return sim.nn_graph_insert(graph, rest, queries, k=10, hops=1)
    if name == "semantic_decontaminate":
        return sim.semantic_decontaminate(e, queries, threshold=0.4)
    if name == "embedding_near_dup_pairs":
        return embedding_near_dup_pairs(e, threshold=0.4)
    if name == "hyperplane_lsh_pairs":
        return sim.hyperplane_lsh_pairs(e, n_planes=16, n_bands=4)
    assert name == "semdedup_pairs"
    return semdedup_pairs(e, k=8, iters=2, threshold=0.4)


@pytest.mark.parametrize(
    "name",
    [
        "topk_cosine",
        "ivf_topk_cosine",
        "ivf_pq_topk",
        "ivf_topk_indexed",
        "nn_descent",
        "graph_search",
        "nn_graph_insert",
        "semantic_decontaminate",
        "embedding_near_dup_pairs",
        "semdedup_pairs",
        "hyperplane_lsh_pairs",
    ],
)
def test_every_cosine_entry_point_excludes_null_and_zero_vectors(
    spark, degenerate_emb, tmp_path, name
):
    """Cosine is undefined for a NULL or zero-norm vector, and its NaN
    ranks above every real neighbor in Spark and passes `>= t`: every
    cosine entry point works on the similarity universe, so no output
    row names either vector and no score is NaN."""
    import math

    df = _entry_point_rows(name, spark, degenerate_emb, tmp_path)
    ids = [
        c
        for c in df.columns
        if c in ("query_id", "neighbor_id", "vec_id", "nbr_id", "vec_a", "vec_b", "bench_id")
    ]
    rows = df.collect()
    assert rows and ids
    named = [r for r in rows if {r[c] for c in ids} & {_ZERO, _NULL}]
    assert not named, named[:3]
    if "cos_sim" in df.columns:
        assert not [r for r in rows if math.isnan(r["cos_sim"])]


def _references(tree, name, owner=None):
    """The enclosing top-level function of each reference to `name`: a
    bare name or import, or with `owner` the attribute `owner.name`."""
    out = []

    def hit(node):
        if owner is not None:
            return (
                isinstance(node, ast.Attribute)
                and node.attr == name
                and isinstance(node.value, ast.Name)
                and node.value.id == owner
            )
        return (isinstance(node, ast.Name) and node.id == name) or (
            isinstance(node, ast.alias) and node.name == name
        )

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, fn or child.name)
                continue
            if hit(child):
                out.append(fn)
            walk(child, fn)

    walk(tree, None)
    return out


def _sql_exists(tree):
    """The enclosing top-level function of each string constant that
    calls SQL `exists(`."""
    out = []
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if "exists(" in node.value.lower():
                    out.append(getattr(top, "name", None))
    return out


def test_each_similarity_policy_has_one_implementation():
    """The family's shared policies live in one function each, so the
    paths cannot drift apart again: cosine_v is referenced only by the
    rounded score (dedup._cos6), the nonzero predicate (`exists`, as
    F.exists or in SQL) only in the universe (dedup._scorable), and similarity.py's
    row_number only in the rank helper (_top_k) and the PQ codebook."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    files = sorted((repo / "warp_pipe_spark" / "datapipe").glob("*.py"))
    files.append(repo / "__spark_entry__.py")
    cos, nonzero = set(), set()
    for path in files:
        tree = ast.parse(path.read_text())
        cos |= {(path.name, fn) for fn in _references(tree, "cosine_v")}
        nonzero |= {(path.name, fn) for fn in _references(tree, "exists", "F")}
        nonzero |= {(path.name, fn) for fn in _sql_exists(tree)}
    assert cos == {("dedup.py", "_cos6")}, cos
    assert nonzero == {("dedup.py", "_scorable")}, nonzero
    sim = ast.parse((repo / "warp_pipe_spark/datapipe/similarity.py").read_text())
    assert set(_references(sim, "row_number", "F")) == {"_top_k", "_pq_codebook"}
