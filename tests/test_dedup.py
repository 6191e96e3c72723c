"""Dedup operator semantics on controlled fixtures (exact duplicates,
near-duplicates, disjoint docs)."""

import pytest

from warp_pipe_spark.datapipe.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy cat again and again today"
OTHER = "completely different content with no overlap whatsoever in any way"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dedup_groups_identical_texts(docs):
    out = {r["text_md5"]: (r["keep_id"], r["dup_count"]) for r in exact_dedup(docs).collect()}
    assert len(out) == 3  # three distinct texts
    counts = sorted(v[1] for v in out.values())
    assert counts == [1, 1, 2]
    # the duplicate group keeps the LOWEST doc_id
    dup_group = [v for v in out.values() if v[1] == 2][0]
    assert dup_group[0] == 1


def test_minhash_identical_docs_identical_signatures(docs):
    sig = {r["doc_id"]: tuple(r[f"mh{j}"] for j in range(8)) for r in minhash_signatures(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs  # identical docs always collide in every band
    assert (1, 4) not in pairs and (2, 4) not in pairs  # disjoint docs don't


def test_simhash_identical_equal_near_close(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[1] == sh[2]
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space


def test_ngram_jaccard_scores(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.3 < pairs[(1, 3)] < 1.0  # near-dup
    assert (1, 4) not in pairs  # disjoint


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # same direction
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    pairs = {(r["vec_a"], r["vec_b"]) for r in embedding_near_dup_pairs(emb, 0.95).collect()}
    assert pairs == {(1, 2)}


def test_embedding_near_dup_excludes_zero_norm_vectors(spark):
    """The zero-norm contract (ADVICE r12): cosine to a directionless
    vector is undefined, and the two historical paths disagreed
    silently (Spark NaN-ordering emitted NaN pairs, the numpy
    prefilter dropped them). Dropping is the pinned behavior — a zero
    vector appears in NO pair, at any threshold, and does not crash
    the GEMM task."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.01]),
        (3, [0.0, 0.0]),  # zero norm: outside the similarity universe
        (4, None),  # NULL vector: same treatment
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = embedding_near_dup_pairs(emb, threshold=0.0).collect()
    ids = {r["vec_a"] for r in got} | {r["vec_b"] for r in got}
    assert 3 not in ids and 4 not in ids
    assert {(r["vec_a"], r["vec_b"]) for r in got} == {(1, 2)}


def test_regex_shingles_match_slice_form(spark):
    """The regex-lookahead shingle extraction must equal the reference
    slice+concat_ws formulation, including the <n-token fallback."""
    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.text import _tokens, shingles

    rows = [
        (1, BASE),
        (2, "one two"),
        (3, "single"),
        (4, "a b c d e f g"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    for n in (2, 3, 5):
        toks = _tokens(F.col("text"))
        ref = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        bad = df.select(
            (F.sort_array(F.array_distinct(shingles(F.col("text"), n)))
             == F.sort_array(F.array_distinct(ref))).alias("eq")
        ).filter(~F.col("eq"))
        assert bad.count() == 0, f"n={n} mismatch"


def test_clusters_consistent_with_pairs(spark, sf_dir):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    pairs = qs["dedup_minhash_pairs"](spark, sf_dir).collect()
    clusters = {r.doc_id: r.cluster_id for r in qs["dedup_clusters"](spark, sf_dir).collect()}
    # every paired doc got a cluster, and both ends share it
    for p in pairs:
        assert clusters[p.doc_a] == clusters[p.doc_b]
    # cluster representative is the min member
    by_cluster = {}
    for d, c in clusters.items():
        by_cluster.setdefault(c, []).append(d)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_hash_split_partition_of_corpus(spark, sf_dir):
    import __spark_entry__ as entrymod

    from warp_pipe_spark.io import read_table

    rows = entrymod.queries()["docs_hash_split"](spark, sf_dir).collect()
    total = sum(r.n_docs for r in rows)
    assert total == read_table(spark, sf_dir, "documents").count()
    assert {r.split for r in rows} <= {"train", "val"}


def _union_find_clusters(edges):
    """Pure-Python ground truth: component-min label per node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        # chain + blob + triangle-with-tail + isolated edge, interleaved ids
        [(i, i + 1) for i in range(0, 12)]  # chain 0..12
        + [(20, 21), (20, 22), (21, 22), (22, 23), (21, 23)]  # dense blob
        + [(30, 31), (31, 32), (30, 32), (32, 40)]  # triangle + tail
        + [(50, 51)],
        # two components: {1,2,3,9} via chain, {5,7}; 11-12-13 chain
        # merges late
        [(2, 3), (1, 2), (3, 9), (5, 7), (12, 13), (11, 12)],
    ],
    ids=["mixed", "small_graph"],
)
def test_star_cc_matches_union_find_on_mixed_topologies(spark, edges):
    from warp_pipe_spark.datapipe.dedup import connected_components_star

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in connected_components_star(pairs).collect()}
    assert got == _union_find_clusters(edges)


def test_star_cc_converges_where_min_label_budget_cannot(spark):
    """Adversarial chain: diameter 60 — min-label propagation moves the
    label ONE hop per round, so a 25-round budget could not finish;
    star contraction collapses the same chain in O(log²) rounds."""
    from warp_pipe_spark.datapipe.dedup import connected_components_star

    edges = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(pairs, max_iter=15).collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_star_cc_matches_union_find_on_lsh_pairs(spark, sf_dir):
    from warp_pipe_spark.datapipe.dedup import (
        connected_components_star,
        minhash_lsh_pairs,
    )
    from warp_pipe_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).localCheckpoint()
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    got = {r.doc_id: r.cluster_id for r in connected_components_star(pairs).collect()}
    assert edges and got == _union_find_clusters(edges)


def test_embedding_all_pairs_guard_refuses_unbounded_input(spark):
    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.dedup import embedding_near_dup_pairs

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_rows"):
        embedding_near_dup_pairs(df, max_rows=10)
    # bounded input passes through
    assert embedding_near_dup_pairs(df.limit(3), max_rows=10).count() == 3


def test_uncapped_ngram_guard_refuses_unbounded_input(spark):
    """VERDICT r7 #3: the uncapped (max_doc_freq=None) pair family is
    a sample-partition operation BY ENFORCED CODE, mirroring the
    embedding all-pairs guard — not a docstring promise. Capped calls
    are exempt (the cap already bounds every posting list), and the
    bound is an explicit dial."""
    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta text "), F.col("id")).alias(
            "text"
        ),
    )
    for fn in (ngram_jaccard_pairs, ngram_containment_pairs):
        with pytest.raises(ValueError, match="sample partitions"):
            fn(docs, max_doc_freq=None, max_rows=10)
        # the same oversized input is FINE with a cap — no probe, no raise
        fn(docs, max_doc_freq=5, max_rows=10).count()
        # bounded input passes through uncapped
        fn(docs.limit(3), max_doc_freq=None, max_rows=10).count()
        # explicit waiver for a knowingly-bounded audit block
        fn(docs, max_doc_freq=None, max_rows=None).count()


def test_uncapped_guard_boundary_at_the_real_bound(spark):
    """VERDICT r8 #3: the off-by-one at the REAL bound, not toy size —
    exactly UNCAPPED_MAX_DOCS rows pass the limit-probe, one more
    raises. Probed through _require_sample_bounded directly (what the
    pair functions call first): running the full pair function at the
    boundary would pay a 100k-doc quadratic index just to exercise a
    bounded limit().count()."""
    from warp_pipe_spark.datapipe.dedup import (
        UNCAPPED_MAX_DOCS,
        _require_sample_bounded,
    )

    # at the bound: no raise
    _require_sample_bounded(
        spark.range(UNCAPPED_MAX_DOCS), UNCAPPED_MAX_DOCS, "probe"
    )
    # one past the bound: raises
    with pytest.raises(ValueError, match="sample partitions"):
        _require_sample_bounded(
            spark.range(UNCAPPED_MAX_DOCS + 1), UNCAPPED_MAX_DOCS, "probe"
        )


def test_uncapped_guard_fires_before_any_index_work(spark):
    """The guard must reject an oversized uncapped input via the
    bounded limit-probe BEFORE shingling — the e2e raise path at one
    past the real bound, cheap because no posting index is built."""
    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.dedup import (
        UNCAPPED_MAX_DOCS,
        ngram_jaccard_pairs,
    )

    docs = spark.range(UNCAPPED_MAX_DOCS + 1).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t "), F.col("id")).alias("text"),
    )
    with pytest.raises(ValueError, match="sample partitions"):
        ngram_jaccard_pairs(docs, max_doc_freq=None)


def test_prefix_engine_all_identical_docs_emits_every_pair(spark):
    """VERDICT r8 #3: prefix filtering's degenerate worst case — every
    document identical. No candidate can be pruned (identical shingle
    sets make the size filter, prefix collision, and positional bound
    all pass at equality), so the engine's floor is its OUTPUT size:
    exactly C(n,2) pairs, every one verified at jaccard 1.0, no pair
    missing and none duplicated. The probe twin
    (tools/scale_probe.py --identdocs) pins the wall-clock shape at
    scale: quadratic in n because the OUTPUT is quadratic — the
    output-size floor, not an index blowup on top of it."""
    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.dedup import jaccard_pairs_prefix

    n = 40
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the quick brown fox jumps over the lazy dog again and again"
        ).alias("text"),
    )
    rows = jaccard_pairs_prefix(docs, threshold=0.5).collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(abs(r.jaccard - 1.0) < 1e-9 for r in rows)
    assert {(r.doc_a, r.doc_b) for r in rows} == {
        (a, b) for a in range(n) for b in range(a + 1, n)
    }


def test_bucket_pairs_max_bucket_drops_degenerate_buckets(spark):
    # VERDICT r4 item 1: a bucket key shared corpus-wide must be
    # droppable BEFORE its posting list exists — pairs from buckets
    # over the cap vanish, pairs from bounded buckets are untouched
    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.dedup import bucket_pairs

    rows = [("hot", i) for i in range(100)] + [("ok", 0), ("ok", 1), ("ok", 2)]
    df = spark.createDataFrame(rows, "key STRING, doc_id LONG")
    uncapped = bucket_pairs(df, ["key"], "doc_id", "doc_a", "doc_b")
    # distinct pairs: the "ok" bucket's 3 pairs are a subset of hot's
    assert uncapped.count() == 100 * 99 // 2
    capped = bucket_pairs(df, ["key"], "doc_id", "doc_a", "doc_b", max_bucket=10)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}
    # the cap must act via a pre-aggregation anti-join, not a filter on
    # the collected array (which would still buffer the hot list)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan


def test_ngram_jaccard_cap_recomputes_sizes_over_kept_sets(spark):
    # stop-shingles leave the SETS, not just the index: two docs whose
    # only difference is a hot shingle become exact duplicates
    # (jaccard 1.0) under the cap
    from warp_pipe_spark.datapipe.dedup import ngram_jaccard_pairs

    boiler = "x y z w"  # shared by all docs -> df over any cap <= n_docs
    rows = [(i, f"a{i} b{i} c{i} {boiler}") for i in range(8)]
    rows += [(100, "p q r s t u"), (101, "p q r s t u")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=5).collect()
    }
    # the 8 boiler docs paired only through hot shingles: all dropped
    assert out == {(100, 101): 1.0}


def test_incremental_index_matches_batch_lsh(spark, docs, tmp_path):
    """build(corpus) + update(batch) + query(batch) must surface the
    same candidate relationships as the one-shot batch banding."""
    import pyspark.sql.functions as F

    from warp_pipe_spark.datapipe.dedup import minhash_lsh_pairs
    from warp_pipe_spark.datapipe.dedup_index import (
        build_minhash_index,
        query_minhash_index,
        update_minhash_index,
    )

    path = str(tmp_path / "mhidx")
    corpus = docs.filter(F.col("doc_id") <= 1)
    batch = docs.filter(F.col("doc_id") >= 2)
    build_minhash_index(corpus, path)
    update_minhash_index(batch, path, 0)
    got = {
        (r["query_id"], r["match_id"])
        for r in query_minhash_index(spark, batch, path).collect()
    }
    expect = set()
    for r in minhash_lsh_pairs(docs).collect():
        if r["doc_a"] >= 2:
            expect.add((r["doc_a"], r["doc_b"]))
        if r["doc_b"] >= 2:
            expect.add((r["doc_b"], r["doc_a"]))
    assert got == expect
    assert (2, 1) in got  # doc 2 is an exact dup of corpus doc 1


def test_incremental_index_max_bucket_drops_hot(spark, docs, tmp_path):
    from warp_pipe_spark.datapipe.dedup_index import (
        build_minhash_index,
        query_minhash_index,
    )

    path = str(tmp_path / "mhidx2")
    build_minhash_index(docs, path)
    # every bucket has <= 3 members (docs 1,2,3 share bands); cap at 1
    # removes them all
    got = query_minhash_index(spark, docs, path, max_bucket=1).collect()
    assert got == []


def test_index_rebuild_resets_the_batch_mark(spark, tmp_path):
    """A rebuilt index must not inherit the previous build's batch
    mark: a streaming run restarted with a fresh checkpoint reuses
    batch ids from 0, and a stale mark would silently skip the new
    run's index appends — every cross-batch pair involving those docs
    lost with no error."""
    import pyspark.sql.functions as F

    from warp_pipe_spark.datapipe.dedup_index import (
        IngestDedupSink,
        build_minhash_index,
    )

    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    sink = IngestDedupSink(spark, idx, out)
    sink(docs.filter(F.col("doc_id") <= 2), 0)  # the index mark is now 0

    # new generation: rebuild base index over doc 1 only, restart the
    # stream with a fresh checkpoint — batch id 0 recurs with NEW docs
    build_minhash_index(docs.filter(F.col("doc_id") == 1), idx)
    import shutil

    shutil.rmtree(out)
    sink2 = IngestDedupSink(spark, idx, out)
    sink2(docs.filter(F.col("doc_id") == 2), 0)
    got = {tuple(r) for r in sink2.candidates().collect()}
    # doc 2's banding rows MUST have been appended: its exact-dup pair
    # against base doc 1 surfaces; with a stale mark this is empty
    assert (2, 1) in got


def test_index_bucket_cap_counts_distinct_docs_after_reingest(spark, tmp_path):
    """A redelivered batch appends nothing (the manifest's batch mark),
    but a doc re-ingested under a later batch id has its postings in
    the index twice. The max_bucket cap must count DISTINCT bucket
    membership: a raw row count would see 2x the true size and silently
    drop a legitimate bucket — real candidate pairs lost in every
    future query."""
    import pyspark.sql.functions as F

    from warp_pipe_spark.datapipe.dedup_index import (
        build_minhash_index,
        query_minhash_index,
        update_minhash_index,
    )

    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    path = str(tmp_path / "mhidx3")
    build_minhash_index(docs.filter(F.col("doc_id") <= 2), path)
    b1 = docs.filter(F.col("doc_id") >= 3)
    update_minhash_index(b1, path, ingest_batch=1)
    update_minhash_index(b1, path, ingest_batch=1)  # redelivery: a no-op
    update_minhash_index(b1, path, ingest_batch=2)  # a re-ingest
    want = {
        tuple(r)
        for r in query_minhash_index(spark, docs, path).collect()
    }
    # cap = true max bucket size (4 docs): nothing is over it, so the
    # capped query must equal the uncapped one despite the re-ingested
    # postings doubling raw counts in batch-1's buckets
    got = {
        tuple(r)
        for r in query_minhash_index(spark, docs, path, max_bucket=4).collect()
    }
    assert got == want and (2, 1) in got


def test_ingest_sink_auto_compacts_behind_threshold(spark, tmp_path):
    """Auto-compaction folded into the ingest path (VERDICT r14 #6):
    once the band partitions exceed auto_compact_files parquet files,
    the sink compacts inline — file count stays bounded across a long
    ingest run while every result surface (candidates, as-of index
    views) stays identical to a never-compacted twin."""
    import pyspark.sql.functions as F

    from warp_pipe_spark.datapipe.dedup_index import (
        IngestDedupSink,
        build_minhash_index,
        query_minhash_index,
    )
    from warp_pipe_spark.io import n_parquet_files as _n_files

    rows = [(i, BASE if i % 3 == 0 else (NEAR if i % 3 == 1 else OTHER))
            for i in range(14)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    base = docs.filter(F.col("doc_id") < 2)

    idx_nc, out_nc = str(tmp_path / "idx_nc"), str(tmp_path / "out_nc")
    idx_ac, out_ac = str(tmp_path / "idx_ac"), str(tmp_path / "out_ac")
    build_minhash_index(base, idx_nc)
    build_minhash_index(base, idx_ac)
    nc = IngestDedupSink(spark, idx_nc, out_nc, auto_compact_files=None)
    ac = IngestDedupSink(spark, idx_ac, out_ac, auto_compact_files=24)
    for b in range(6):
        batch = docs.filter(
            (F.col("doc_id") >= 2 + 2 * b) & (F.col("doc_id") < 4 + 2 * b)
        )
        nc(batch, b)
        ac(batch, b)

    f_nc = _n_files(idx_nc + "/bands")
    f_ac = _n_files(idx_ac + "/bands")
    assert f_ac < f_nc, (f_ac, f_nc)
    assert f_ac <= 24 + 8  # at most one batch of appends over threshold

    got_nc = {tuple(r) for r in nc.candidates().collect()}
    got_ac = {tuple(r) for r in ac.candidates().collect()}
    assert got_ac == got_nc and got_nc  # identical and non-trivial

    # as-of replay view survives compaction byte-identically
    probe = docs.filter(F.col("doc_id") < 8)
    asof_nc = {
        tuple(r)
        for r in query_minhash_index(
            spark, probe, idx_nc, max_ingest_batch=2
        ).collect()
    }
    asof_ac = {
        tuple(r)
        for r in query_minhash_index(
            spark, probe, idx_ac, max_ingest_batch=2
        ).collect()
    }
    assert asof_ac == asof_nc


def test_ingest_sink_index_read_past_the_listing_threshold_lists_no_job(
    spark, tmp_path, listing_threshold, job_descriptions
):
    """The band generations grow past Spark's parallel-listing threshold
    with no compaction (the 512-file rule alone triggers it): opening
    and reading the index launches no job, and the candidates equal a
    run that compacts after every batch."""
    import pyspark.sql.functions as F

    from warp_pipe_spark.datapipe.dedup_index import IngestDedupSink
    from warp_pipe_spark.io import index_manifest, open_index

    rows = [(i, BASE if i % 2 else OTHER) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    grow = IngestDedupSink(spark, str(tmp_path / "idx"), str(tmp_path / "out"))
    folded = IngestDedupSink(
        spark, str(tmp_path / "idx_c"), str(tmp_path / "out_c"),
        auto_compact_files=0,
    )
    n_gens = []
    for b in range(6):
        batch = docs.filter(F.col("doc_id").isin(2 * b, 2 * b + 1))
        grow(batch, b)
        folded(batch, b)
        bands = index_manifest(grow.index_dir, "minhash")["datasets"]["bands"]
        n_gens.append(len(bands["gens"]))
    assert n_gens == [2, 3, 4, 5, 6, 7]
    _, jobs = job_descriptions(
        lambda: open_index(spark, grow.index_dir, "minhash")[1]("bands")
    )
    assert jobs == []
    got = {tuple(r) for r in grow.candidates().collect()}
    assert got == {tuple(r) for r in folded.candidates().collect()} and got


def test_ingest_dedup_sink_candidates_guards(spark, tmp_path):
    """candidates() on a fresh sink (no out_dir yet) is None, and an
    unrecorded candidates generation (a crash before batch 1's
    manifest publish) is invisible rather than read or a scan error."""
    import os
    import shutil

    from warp_pipe_spark.datapipe.dedup_index import IngestDedupSink

    sink = IngestDedupSink(spark, str(tmp_path / "idx"), str(tmp_path / "out"))
    assert sink.candidates() is None

    rows = [(1, BASE), (2, BASE)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    sink(docs, 0)
    want = {tuple(r) for r in sink.candidates().collect()}
    assert want
    # crash before batch 1's commit: a whole generation, unrecorded
    pairs = str(tmp_path / "out" / "pairs")
    newest = max(os.listdir(pairs), key=lambda d: int(d[5:]))
    shutil.copytree(os.path.join(pairs, newest), os.path.join(pairs, "_gen=9"))
    os.makedirs(os.path.join(pairs, "_gen=10"))
    assert {tuple(r) for r in sink.candidates().collect()} == want


def test_ingest_dedup_sink_streams_batches(spark, tmp_path):
    """Three micro-batches through the foreachBatch sink: every pair
    the one-shot batch LSH finds must be surfaced by the time its later
    doc's batch lands; replaying a batch must not change the result."""
    import pyspark.sql.functions as F

    from warp_pipe_spark.datapipe.dedup import minhash_lsh_pairs
    from warp_pipe_spark.datapipe.dedup_index import IngestDedupSink

    rows = [
        (1, BASE),
        (2, "something about planners and optimizers entirely"),
        (3, BASE),          # dup of batch-0 doc
        (4, NEAR),
        (5, BASE),          # dup of docs 1 and 3
        (6, OTHER),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    sink = IngestDedupSink(
        spark, str(tmp_path / "idx"), str(tmp_path / "out")
    )
    for bid, lo in enumerate([1, 3, 5]):
        sink(docs.filter(F.col("doc_id").isin(lo, lo + 1)), bid)
    got = {
        (r["query_id"], r["match_id"]) for r in sink.candidates().collect()
    }
    # later-doc direction of every batch-LSH pair must be present
    for r in minhash_lsh_pairs(docs).collect():
        assert (r["doc_b"], r["doc_a"]) in got
    assert (3, 1) in got and (5, 1) in got and (5, 3) in got
    # replaying batch 1 is a no-op (the batch marks skip both commits)
    before = got
    sink(docs.filter(F.col("doc_id").isin(3, 4)), 1)
    after = {
        (r["query_id"], r["match_id"]) for r in sink.candidates().collect()
    }
    assert after == before


def test_containment_catches_embedded_doc(spark):
    """A small doc fully embedded in a big one must show containment
    1.0 in the small->big direction even though Jaccard is tiny."""
    from warp_pipe_spark.datapipe.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    big = " ".join(f"tok{i}" for i in range(300)) + " " + BASE
    rows = [(1, big), (2, BASE), (3, OTHER)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    cont = {
        (r["doc_a"], r["doc_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in ngram_containment_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in cont
    a_in_b, b_in_a = cont[(1, 2)]
    assert b_in_a == 1.0          # BASE (doc 2) fully inside doc 1
    assert a_in_b < 0.1           # doc 1 mostly NOT in doc 2
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0001).collect()
    }
    assert jac[(1, 2)] < 0.1      # symmetric measure misses it


def test_hash_embed_integer_exact_and_discriminative(spark):
    from warp_pipe_spark.datapipe.text import hash_embed

    rows = [(1, BASE), (2, BASE), (3, OTHER)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: tuple(r[f"f{k}"] for k in range(8)) for r in hash_embed(docs).collect()}
    assert out[1] == out[2]       # identical text -> identical vector
    assert out[1] != out[3]
    # signed sums of integer tf: total magnitude bounded by token count
    assert all(abs(v) <= len(BASE.split()) for v in out[1])


def test_ingest_dedup_sink_crash_before_candidates_commit_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash window between the index append's commit and the
    candidates' commit: replaying the batch must regenerate the
    identical candidate output without double-appending the index."""
    import pyspark.sql.functions as F

    from warp_pipe_spark import io as wio
    from warp_pipe_spark.datapipe.dedup_index import IngestDedupSink

    rows = [(1, BASE), (2, OTHER), (3, BASE), (4, NEAR)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    b0, b1 = docs.filter(F.col("doc_id") <= 2), docs.filter(F.col("doc_id") >= 3)
    ref = IngestDedupSink(spark, str(tmp_path / "ref_idx"), str(tmp_path / "ref_out"))
    ref(b0, 0)
    ref(b1, 1)
    want = sorted(map(tuple, ref.candidates().collect()))
    assert (3, 1) in want  # batch 1 surfaces a cross-batch pair

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    sink = IngestDedupSink(spark, idx, out)
    sink(b0, 0)
    real = wio.publish_file

    def crash_on_candidates(path, chunks, *a):
        if path.startswith(out):
            raise OSError("crash before the candidates commit")
        real(path, chunks, *a)

    monkeypatch.setattr(wio, "publish_file", crash_on_candidates)
    with pytest.raises(OSError, match="candidates commit"):
        sink(b1, 1)
    monkeypatch.undo()
    gens = wio.index_manifest(idx, "minhash")["datasets"]["bands"]["gens"]
    assert sorted(map(tuple, sink.candidates().collect())) != want

    sink(b1, 1)  # foreachBatch redelivery
    assert sorted(map(tuple, sink.candidates().collect())) == want
    # no double append happened
    assert wio.index_manifest(idx, "minhash")["datasets"]["bands"]["gens"] == gens


def test_ingest_sink_recovers_from_crashed_compaction(spark, tmp_path, monkeypatch):
    """A crash inside the sink's inline compaction, at its manifest
    publish or part-way through deleting the old band generations:
    a fresh sink (as after a restart) redelivers the crashed batch and
    runs the next one, and surfaces exactly the candidates of a run
    with no crash, with no unrecorded generation left."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from warp_pipe_spark import io as wio
    from warp_pipe_spark.datapipe.dedup_index import (
        IngestDedupSink,
        build_minhash_index,
    )

    rows = [(i, BASE if i % 3 == 0 else (NEAR if i % 3 == 1 else OTHER))
            for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    base = docs.filter(F.col("doc_id") < 2)
    batches = [
        docs.filter(F.col("doc_id").isin(2 + 2 * b, 3 + 2 * b)) for b in range(3)
    ]

    def run(name):
        idx, out = str(tmp_path / f"idx_{name}"), str(tmp_path / f"out_{name}")
        build_minhash_index(base, idx)
        # threshold 0: every batch compacts inline
        return idx, out, IngestDedupSink(spark, idx, out, auto_compact_files=0)

    _, _, ref = run("ref")
    for b, batch in enumerate(batches):
        ref(batch, b)
    want = {tuple(r) for r in ref.candidates().collect()}

    real_replace, real_rmtree = os.replace, shutil.rmtree
    for crash in ("publish", "delete"):
        idx, out, sink = run(crash)
        sink(batches[0], 0)

        def rmtree(path, *a, **kw):
            if "_gen=" in str(path):
                raise OSError("crash in the compaction")
            real_rmtree(path, *a, **kw)

        # batch 1's appends commit first; the compaction publish is
        # the index's second manifest publish of the batch
        calls = {"n": 0}

        def replace_second(src, dst):
            if dst.startswith(idx):
                calls["n"] += 1
                if calls["n"] == 2:
                    raise OSError("crash in the compaction")
            real_replace(src, dst)

        if crash == "publish":
            monkeypatch.setattr(os, "replace", replace_second)
        else:
            monkeypatch.setattr(shutil, "rmtree", rmtree)
        with pytest.raises(OSError, match="in the compaction"):
            sink(batches[1], 1)
        monkeypatch.undo()

        healed = IngestDedupSink(spark, idx, out, auto_compact_files=0)
        healed(batches[1], 1)  # foreachBatch redelivery of the crashed batch
        healed(batches[2], 2)
        assert {tuple(r) for r in healed.candidates().collect()} == want and want
        bands = os.path.join(idx, "bands")
        recorded = wio.index_manifest(idx, "minhash")["datasets"]["bands"]["gens"]
        assert sorted(os.listdir(bands)) == [f"_gen={g}" for g in recorded]


def test_quality_model_score_exact_and_sign(spark):
    """Pinned weight contract: w[b] = ((b+1)*2654435761) % 1000001 -
    500000 over h32(token) % 4096, summed per doc; keep = score > 0.
    Computed independently in Python md5 below — a Spark-side formula
    drift breaks both the oracle and this pin."""
    import hashlib

    from warp_pipe_spark.datapipe.text import quality_model_score

    rows = [(1, "key agg row"), (2, "scan"), (3, "key key")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.asDict() for r in quality_model_score(docs).collect()}

    def w(tok: str) -> int:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096
        return ((b + 1) * 2654435761) % 1000001 - 500000

    for doc_id, text in rows:
        toks = text.split(" ")
        s = sum(w(t) for t in toks)
        assert got[doc_id]["n_tokens"] == len(toks)
        assert got[doc_id]["score_sum"] == s, (doc_id, got[doc_id], s)
        assert got[doc_id]["keep"] == (s > 0)


def test_cluster_keep_best_prefers_score_then_doc_id(spark):
    """The lexicographic (score, doc_id) struct-max: higher score wins;
    equal scores break to the LARGER doc_id (pinned so the oracle's
    max(ROW(...)) replays it)."""
    from pyspark.sql import functions as F

    cc = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
        "doc_id LONG, cluster_id LONG",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, -5), (9, -5)],
        "doc_id LONG, score_sum LONG",
    )
    best = F.max(F.struct(F.col("score_sum").alias("s"), F.col("doc_id").alias("d")))
    out = (
        cc.join(scores, "doc_id")
        .groupBy("cluster_id")
        .agg(best["d"].alias("best_doc_id"), best["s"].alias("best_score"))
    )
    got = {r.cluster_id: (r.best_doc_id, r.best_score) for r in out.collect()}
    assert got == {1: (3, 50), 7: (9, -5)}


def test_prefix_jaccard_identical_to_uncapped_on_testdata(spark, sf_dir):
    """jaccard_pairs_prefix must be RESULT-IDENTICAL to the uncapped
    exact index at the same threshold on the real documents table —
    prefix filtering is a candidate-pruning strategy, never a
    semantics change (AllPairs completeness + exact verification)."""
    from warp_pipe_spark.datapipe.dedup import jaccard_pairs_prefix
    from warp_pipe_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    for t in (0.5, 0.8):
        exact = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                docs, threshold=t, max_doc_freq=None
            ).collect()
        }
        pref = {
            tuple(r) for r in jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert pref == exact, (t, len(pref), len(exact))


def test_prefix_jaccard_boilerplate_never_enters_index(spark):
    """The adversarial corpus for the uncapped index: every doc shares
    a long boilerplate tail (hot shingles with doc_freq = N) plus a
    distinct head. Prefix filtering must (a) return exactly the
    brute-force pairs and (b) keep the hot tail shingles OUT of the
    posting index — their doc_freq sorts them last, past every prefix."""
    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.dedup import jaccard_pairs_prefix

    tail = "common boilerplate footer shared by every document"
    t = 0.8  # prefix ≈ 20% of each doc — shorter than the unique head
    heads = [
        " ".join(f"w{i}x{j}" for j in range(30)) for i in range(4)
    ]
    heads.append(heads[0])  # doc 5 = exact dup of doc 1
    rows = [(i + 1, h + " " + tail) for i, h in enumerate(heads)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix(docs, threshold=t).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, threshold=t, max_doc_freq=None
        ).collect()
    }
    assert got == want
    assert got[(1, 5)] == 1.0  # exact dup pair found through the prefix

    # every shingle of doc_freq == N (the boilerplate tail) is absent
    # from all prefixes: at t=0.8 each prefix holds ~20% of a doc's
    # shingles, all drawn from its unique head (doc_freq 1 or 2) —
    # the corpus-wide hot tail sorts last and never enters the index
    from warp_pipe_spark.datapipe.text import h60, shingles

    arr = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(shingles(F.col("text"), 3), lambda s: h60(s))
            )
        ).alias("s"),
    )
    hot = (
        arr.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") == len(heads))
    )
    # reconstruct the prefixes exactly as the implementation does
    from pyspark.sql.window import Window

    freq = arr.groupBy("s").agg(F.count("*").alias("df"))
    sz = arr.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ranked = (
        arr.join(freq, "s")
        .join(sz, "doc_id")
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")),
        )
    )
    # t_eff mirrors jaccard_pairs_prefix: pruning bounds derive from
    # t - 1e-6 so the reconstruction covers the implementation's
    # (possibly one-longer) prefix, not a strict subset of it
    t_eff = t - 1e-6
    plen = F.col("n_sh") - F.ceil(F.col("n_sh") * t_eff - 1e-9) + 1
    prefix = ranked.filter(F.col("rnk") <= plen)
    leaked = prefix.join(hot, "s", "left_semi").count()
    assert leaked == 0


def test_prefix_jaccard_keeps_pairs_that_round_up_to_threshold(spark):
    """Round-boundary completeness: the final filter (shared with
    ngram_jaccard_pairs) passes round(J, 6) >= t, so a pair whose TRUE
    Jaccard is just below t but rounds up to it belongs in the result.
    Pruning bounds derived from true-J >= t would drop such a pair
    before verification — the bounds must come from t - 1e-6.

    Concrete instance: A = {abc, bcd}, B = {abc, bcd, cde} → J = 2/3,
    round(J, 6) = 0.666667 > J. Any threshold in (2/3, 0.666667]
    keeps the pair in the uncapped index; bounds derived from t would
    shrink B's prefix to its single rarest shingle (cde, doc_freq 1),
    disjoint from A's single-element prefix — candidate lost."""
    from warp_pipe_spark.datapipe.dedup import jaccard_pairs_prefix

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e")], "doc_id LONG, text STRING"
    )
    t = 0.6666669  # strictly above 2/3, at/below round(2/3, 6)
    want = {
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, threshold=t, max_doc_freq=None
        ).collect()
    }
    got = {
        tuple(r) for r in jaccard_pairs_prefix(docs, threshold=t).collect()
    }
    assert want == {(1, 2, 2, 0.666667)}  # the uncapped measure keeps it
    assert got == want


def test_prefix_jaccard_identical_on_mutation_corpus(spark):
    """Seeded randomized guard for the PPJoin positional filter
    (dedup.py jaccard_pairs_prefix): a corpus of base docs plus
    mutated copies (token substitutions at varying rates) yields true
    Jaccard values scattered across the threshold spectrum — exactly
    the population where an off-by-one in the positional bound
    ``1 + min(|A|-i, |B|-j)`` or a bound derived from t instead of
    t_eff would silently drop boundary pairs. Prefix must equal the
    uncapped exact index at every threshold, pair for pair."""
    import random

    from warp_pipe_spark.datapipe.dedup import jaccard_pairs_prefix

    rnd = random.Random(42)
    vocab = [f"tok{i}" for i in range(60)]
    rows = []
    doc_id = 0
    for _ in range(8):
        base = [rnd.choice(vocab) for _ in range(rnd.randint(8, 24))]
        doc_id += 1
        rows.append((doc_id, " ".join(base)))
        for rate in (0.0, 0.1, 0.25, 0.5):
            mut = [
                rnd.choice(vocab) if rnd.random() < rate else w for w in base
            ]
            doc_id += 1
            rows.append((doc_id, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    for t in (0.5, 0.7, 0.9):
        exact = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                docs, threshold=t, max_doc_freq=None
            ).collect()
        }
        pref = {
            tuple(r) for r in jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert pref == exact, (t, len(pref), len(exact))
    # sanity: the corpus actually produced qualifying pairs at the
    # loosest threshold, so the equalities above compared real work
    assert len(jaccard_pairs_prefix(docs, threshold=0.5).collect()) > 0


def test_chunk_overlap_rejects_nonpositive_stride(spark):
    """stride=0 under non-ANSI semantics turns 'pos div 0' into NULL
    and explode(sequence(lo, NULL)) silently drops every row — must be
    a ValueError, not an empty result."""
    import pytest as _pytest

    from warp_pipe_spark.datapipe.sampling import chunk_texts_overlap

    docs = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    with _pytest.raises(ValueError, match="positive"):
        chunk_texts_overlap(docs, stride=0)
    with _pytest.raises(ValueError, match="positive"):
        chunk_texts_overlap(docs, stride=-3)


# --- index compaction (small-file maintenance, round 10) ---------------


def _mhidx_snapshot(spark, path):
    """Query results + as-of views + raw index rows (every copy), for
    byte-identity comparison across a compaction."""
    from warp_pipe_spark.datapipe.dedup_index import query_minhash_index
    from warp_pipe_spark.io import open_index

    all_docs = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)],
        "doc_id LONG, text STRING",
    )
    full = frozenset(
        (r["query_id"], r["match_id"])
        for r in query_minhash_index(spark, all_docs, path).collect()
    )
    asof0 = frozenset(
        (r["query_id"], r["match_id"])
        for r in query_minhash_index(
            spark, all_docs, path, max_ingest_batch=0
        ).collect()
    )
    bands = open_index(spark, path, "minhash")[1]("bands")
    rows = sorted(
        (r["band"], r["key"], r["doc_id"], r["ingest_batch"])
        for r in bands.collect()
    )
    assert full  # doc 2 duplicates doc 1: never empty
    return full, asof0, rows


def test_compact_index_preserves_results_and_merges_files(spark, docs, tmp_path):
    """Compaction must be invisible to every reader — same candidate
    pairs, same as-of views, same distinct index rows — while
    collapsing the per-append file accumulation to one file per band."""
    import os

    import pyspark.sql.functions as F

    from warp_pipe_spark.datapipe.dedup_index import (
        build_minhash_index,
        compact_minhash_index,
        update_minhash_index,
    )

    path = str(tmp_path / "mhidx")
    build_minhash_index(docs.filter(F.col("doc_id") <= 1), path)
    for b, did in enumerate((2, 3, 4)):
        update_minhash_index(
            docs.filter(F.col("doc_id") == did), path, ingest_batch=b
        )
    before = _mhidx_snapshot(spark, path)

    stats = compact_minhash_index(spark, path)

    assert _mhidx_snapshot(spark, path) == before
    assert stats["rows_after"] == stats["rows_before"]
    assert stats["files_after"] < stats["files_before"]
    # one generation left, one file per band dir — the advertised layout
    gens = os.listdir(path + "/bands")
    assert len(gens) == 1, gens
    gen_dir = os.path.join(path, "bands", gens[0])
    for d in os.listdir(gen_dir):
        if d.startswith("band="):
            files = [
                f
                for f in os.listdir(os.path.join(gen_dir, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, files)


def test_compact_index_after_redelivered_append_keeps_one_copy(
    spark, docs, tmp_path
):
    """A redelivered append (the SAME ingest_batch id) is a no-op, so
    the index holds one copy of the batch and compaction, which no
    longer deduplicates, keeps exactly its rows — with identical query
    output."""
    import pyspark.sql.functions as F

    from warp_pipe_spark.datapipe.dedup_index import (
        build_minhash_index,
        compact_minhash_index,
        update_minhash_index,
    )

    path = str(tmp_path / "mhidx")
    build_minhash_index(docs.filter(F.col("doc_id") <= 1), path)
    batch = docs.filter(F.col("doc_id") == 2)
    update_minhash_index(batch, path, ingest_batch=0)
    once = _mhidx_snapshot(spark, path)
    update_minhash_index(batch, path, ingest_batch=0)  # the redelivery
    assert _mhidx_snapshot(spark, path) == once

    stats = compact_minhash_index(spark, path)

    assert stats["rows_after"] == stats["rows_before"]
    assert _mhidx_snapshot(spark, path) == once


def test_compact_index_missing_raises(spark, tmp_path):
    import pytest as _pytest

    from warp_pipe_spark.datapipe.dedup_index import compact_minhash_index

    with _pytest.raises(FileNotFoundError):
        compact_minhash_index(spark, str(tmp_path / "nope"))


def test_decontaminate_drops_benchmark_overlaps(spark):
    """Decontamination: a training doc sharing ANY n-gram with the
    benchmark is flagged with its hit count and removed from `clean`;
    clean docs pass untouched. Short benchmark items (< n tokens)
    match verbatim copies via the whole-text shingle rule."""
    from warp_pipe_spark.datapipe.dedup import decontaminate

    bench_q = "what is the capital of france and when was it founded"
    docs = spark.createDataFrame(
        [
            (1, "intro text " + bench_q + " trailing words"),  # leaked
            (2, "completely unrelated training document about sparks"),
            (3, "tiny"),  # must not match anything
        ],
        "doc_id LONG, text STRING",
    )
    bench = spark.createDataFrame(
        [(100, bench_q), (101, "short eval item")],
        "doc_id LONG, text STRING",
    )
    clean, flagged = decontaminate(docs, bench, n=5)
    assert {r["doc_id"] for r in clean.collect()} == {2, 3}
    hits = {r["doc_id"]: r["n_hits"] for r in flagged.collect()}
    assert set(hits) == {1} and hits[1] >= 1
    # verbatim copy of a SHORT benchmark item is caught too
    docs2 = spark.createDataFrame(
        [(9, "short eval item")], "doc_id LONG, text STRING"
    )
    clean2, flagged2 = decontaminate(docs2, bench, n=5)
    assert clean2.count() == 0 and flagged2.count() == 1


def test_decontaminate_plan_broadcasts_the_benchmark(spark):
    """The corpus side must not shuffle: the benchmark collapses to
    distinct n-gram hashes and joins back as a broadcast."""
    from warp_pipe_spark.datapipe.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, f"doc {i} text body here") for i in range(50)],
        "doc_id LONG, text STRING",
    )
    bench = spark.createDataFrame(
        [(1, "eval question text")], "doc_id LONG, text STRING"
    )
    clean, flagged = decontaminate(docs, bench)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_lines_scrubs_cross_corpus_boilerplate(spark):
    """C4/CCNet line scrub: a line in >= min_docs distinct documents is
    removed everywhere (case/indent-insensitively); blank lines and
    lines repeated only WITHIN one doc survive; line order is kept."""
    from warp_pipe_spark.datapipe.text import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "unique opening\nAccept Cookies\n\nbody one\nbody one"),
            (2, "  accept cookies  \nbody two"),
            (3, "totally distinct\ncontent here"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    # the boilerplate line vanished from BOTH docs, variants included
    assert got[1]["text"] == "unique opening\n\nbody one\nbody one"
    assert got[2]["text"] == "body two"
    assert got[3]["text"] == "totally distinct\ncontent here"
    # the within-doc repeat (nd=1) survived; blank line survived
    assert got[1]["n_removed"] == 1 and got[2]["n_removed"] == 1
    assert got[3]["n_removed"] == 0
    assert got[1]["n_lines"] == 5


def test_repetition_signals_hand_fixture(spark):
    """Gopher §A1.1 repetition suite against hand-computed values.
    docA exercises the line signals (one duplicated line), docB the
    n-gram signals (6 identical tokens so every gram family is one
    repeated gram); NULL/empty texts are excluded."""
    from warp_pipe_spark.datapipe.text import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "foo\nfoo\nbar"),
            (2, "w w w w w w"),
            (3, None),
            (4, ""),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: r.asDict() for r in repetition_signals(docs).collect()
    }
    assert set(got) == {1, 2}
    a = got[1]
    # lines: [foo, foo, bar] -> 1 of 3 duplicated; chars 9 total, 3 dup
    assert a["n_chars"] == 11 and a["n_lines"] == 3
    assert a["dup_line_frac_micro"] == 333333
    assert a["dup_line_char_frac_micro"] == 333333
    # single token => every n-gram family is the whole text once
    assert a["top_2gram_char_frac_micro"] == 1000000
    assert a["dup_5gram_char_frac_micro"] == 0
    b = got[2]
    assert b["n_chars"] == 11 and b["n_lines"] == 1
    assert b["dup_line_frac_micro"] == 0
    assert b["dup_line_char_frac_micro"] == 0
    # 5x "w w" (len 3) -> 15e6 / 11; 4x len-5 3-grams; 3x len-7 4-grams
    assert b["top_2gram_char_frac_micro"] == 1363636
    assert b["top_3gram_char_frac_micro"] == 1818181
    assert b["top_4gram_char_frac_micro"] == 1909090
    # 2x "w w w w w" (len 9) duplicated 5-grams; 6-gram is unique
    assert b["dup_5gram_char_frac_micro"] == 1636363
    assert b["dup_6gram_char_frac_micro"] == 0
    assert b["dup_10gram_char_frac_micro"] == 0


def test_repetition_signals_matches_duckdb_on_testdata(spark):
    """The r12-registration oracle, pre-validated on the real corpus:
    the exact DuckDB SQL that will ship in oracle_sql() replays every
    micro-fraction bit-for-bit at sf0.001."""
    import duckdb

    from warp_pipe_spark.datapipe.text import repetition_signals

    pq = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(pq)
    got = sorted(
        (tuple(r) for r in repetition_signals(docs).collect())
    )

    def gram_cte(n):
        sh = (
            f"[array_to_string(t[i:i+{n-1}], ' ') "
            f"FOR i IN range(1, greatest(len(t)-{n-1}, 1)+1)]"
        )
        return f"""
    g{n} AS (SELECT doc_id, n_chars, unnest({sh}) AS g FROM tok),
    gc{n} AS (SELECT doc_id, g, count(*) AS c, first(n_chars) AS n_chars
              FROM g{n} GROUP BY doc_id, g),
    per{n} AS (
      SELECT doc_id,
             max(ROW(c, length(g))) AS m,
             CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END)
                  AS BIGINT) AS dup_chars,
             first(n_chars) AS n_chars
      FROM gc{n} GROUP BY doc_id
    )"""

    ns = range(2, 11)
    sql = (
        """
    WITH d AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
      FROM read_parquet('"""
        + pq
        + """')
      WHERE text IS NOT NULL AND length(text) > 0
    ),
    tok AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM d),
    l0 AS (SELECT doc_id,
                  unnest(list_filter(string_split(text, chr(10)),
                                     x -> length(x) > 0)) AS line
           FROM d),
    lc AS (SELECT doc_id, line, count(*) AS c FROM l0 GROUP BY 1, 2),
    lstat AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_lines,
             CAST(count(*) AS BIGINT) AS n_distinct_lines,
             CAST(sum(c * length(line)) AS BIGINT) AS line_chars,
             CAST(sum((c - 1) * length(line)) AS BIGINT) AS dup_line_chars
      FROM lc GROUP BY doc_id
    ),"""
        + ",".join(gram_cte(n) for n in ns)
        + """
    SELECT d.doc_id, d.n_chars, n_lines,
           ((n_lines - n_distinct_lines) * 1000000) // n_lines
             AS dup_line_frac_micro,
           (dup_line_chars * 1000000) // line_chars
             AS dup_line_char_frac_micro,
           """
        + ", ".join(
            f"(per{n}.m[1] * per{n}.m[2] * 1000000) // d.n_chars"
            f" AS top_{n}gram_char_frac_micro"
            for n in (2, 3, 4)
        )
        + ", "
        + ", ".join(
            f"(per{n}.dup_chars * 1000000) // d.n_chars"
            f" AS dup_{n}gram_char_frac_micro"
            for n in range(5, 11)
        )
        + """
    FROM d
    JOIN lstat USING (doc_id)
    """
        + " ".join(f"JOIN per{n} ON per{n}.doc_id = d.doc_id" for n in ns)
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert len(got) == len(want) > 0
    assert got == want


def test_dedup_lines_with_regex_metacharacter_separator(spark):
    """sep is a LITERAL: '.' must not split on every character (F.split
    is regex-based; the rejoin side was already literal)."""
    from warp_pipe_spark.datapipe.text import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "boiler.keep one.tail"),
            (2, "boiler.keep two.tail"),
            (3, "boiler.keep three.tail"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(docs, min_docs=3, sep=".").collect()
    }
    assert got[1] == "keep one"
    assert got[2] == "keep two"
    assert got[3] == "keep three"


def test_embedding_near_dup_blocking_is_result_invariant(spark):
    """The blocked-GEMM execution must be a pure cost choice: any
    block count yields the identical pair set and identical rounded
    sims (same-block upper-triangle + cross-block min/max dedup ==
    the old per-pair a.vec_id < b.vec_id join, exactly once each)."""
    from warp_pipe_spark.datapipe.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    ref = sorted(
        map(
            tuple,
            embedding_near_dup_pairs(emb, 0.4, n_blocks=1).collect(),
        )
    )
    assert len(ref) > 0
    for nb in (3, 7, 32):
        got = sorted(
            map(
                tuple,
                embedding_near_dup_pairs(
                    emb, 0.4, n_blocks=nb
                ).collect(),
            )
        )
        assert got == ref, nb


def test_embedding_near_dup_ignores_null_rows(spark):
    """NULL vec_id / NULL embedding rows must be excluded exactly like
    the old per-pair join excluded them (NULL comparisons never
    matched) — not crash the block task's numpy stack."""
    from warp_pipe_spark.datapipe.dedup import embedding_near_dup_pairs

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),
        (None, [1.0, 0.0]),
        (3, None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    got = sorted(
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in embedding_near_dup_pairs(df, 0.9).collect()
    )
    assert got == [(1, 2, 1.0)]


def test_scrub_dup_spans_hand_fixture(spark):
    """ExactSubstr removal semantics on a hand-computed corpus: the
    canonical (smallest (doc_id, pos)) copy of each repeated n-gram
    survives, every other occurrence's full span dies, within-doc
    repeats count, short docs pass through, token order is kept."""
    from warp_pipe_spark.datapipe.text import scrub_dup_spans

    docs = spark.createDataFrame(
        [
            # doc 1 holds the canonical "a b c" (pos 0); its trailing
            # tokens survive
            (1, "a b c x y"),
            # doc 2 repeats "a b c" at pos 1 -> tokens 1..3 die
            (2, "q a b c z"),
            # doc 3: within-doc repeat "m n o m n o": pos 0 canonical,
            # pos 3 dies
            (3, "m n o m n o"),
            # doc 4: too short for any 3-gram repeat involvement
            (4, "u v"),
            (5, None),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed_tokens"])
        for r in scrub_dup_spans(docs, n=3).collect()
    }
    assert got[1] == ("a b c x y", 5, 0)
    assert got[2] == ("q z", 5, 3)
    assert got[3] == ("m n o", 6, 3)
    assert got[4] == ("u v", 2, 0)
    assert 5 not in got
    # keep_canonical=False scrubs EVERY occurrence (the paper's
    # alternative policy): doc 1 loses its copy too
    got2 = {
        r["doc_id"]: r["text"]
        for r in scrub_dup_spans(docs, n=3, keep_canonical=False).collect()
    }
    assert got2[1] == "x y"
    assert got2[2] == "q z"
    assert got2[3] == ""


def test_scrub_dup_spans_matches_duckdb_on_testdata(spark):
    """Pre-validated DuckDB oracle on the real corpus (the r11
    registration pattern: the registry is saturated at 150, so the op
    ships pytest-pinned with its oracle ready for the day a slot
    opens). n=8 so the scrub actually bites at sf0.001."""
    import duckdb

    from warp_pipe_spark.datapipe.text import scrub_dup_spans

    pq = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(pq)
    n = 8
    got = sorted(
        map(tuple, scrub_dup_spans(docs, n=n).collect())
    )
    sql = f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM read_parquet('{pq}') WHERE text IS NOT NULL
    ),
    toks AS (
      SELECT doc_id, unnest(range(1, len(t)+1)) AS pos1, unnest(t) AS tok
      FROM d
    ),
    grams AS (
      SELECT doc_id, unnest(range(1, greatest(len(t)-{n - 1}, 0)+1)) AS pos1,
             unnest([('0x' || substr(md5(array_to_string(t[i:i+{n - 1}], ' ')), 1, 15))::BIGINT
                     FOR i IN range(1, greatest(len(t)-{n - 1}, 0)+1)]) AS h
      FROM d
    ),
    per_h AS (
      SELECT h, count(*) AS occ, min(ROW(doc_id, pos1)) AS canon
      FROM grams GROUP BY h
    ),
    starts AS (
      SELECT g.doc_id, g.pos1,
             NOT (p.canon[1] = g.doc_id AND p.canon[2] = g.pos1)
               AS s
      FROM grams g JOIN per_h p USING (h) WHERE p.occ >= 2
    ),
    marked AS (
      SELECT t.doc_id, t.pos1, t.tok,
             coalesce(
               max(CASE WHEN s THEN 1 ELSE 0 END)
                 OVER (PARTITION BY t.doc_id ORDER BY t.pos1
                       ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)
               = 1, false) AS kill
      FROM toks t
      LEFT JOIN starts st ON st.doc_id = t.doc_id AND st.pos1 = t.pos1
    )
    SELECT doc_id,
           coalesce(array_to_string(
             list(tok ORDER BY pos1) FILTER (WHERE NOT kill), ' '), '')
             AS text,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(coalesce(sum(CASE WHEN kill THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_removed_tokens
    FROM marked GROUP BY doc_id
    """
    want = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert len(got) == len(want) > 0
    assert got == want
    # the scrub must actually bite on the real corpus at this n
    assert any(r[3] > 0 for r in got)


def test_embedding_near_dup_rejects_non_integral_vec_id(spark):
    """GEMM blocking assigns blocks with F.pmod(vec_id, B) — a string
    id must fail fast at the API with a message, not inside pmod's
    analysis (VERDICT r12 item 3, the write_webdataset discipline)."""
    import pytest

    from warp_pipe_spark.datapipe.dedup import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [("a1", [1.0, 0.0])], "vec_id STRING, embedding ARRAY<FLOAT>"
    )
    with pytest.raises(ValueError, match="integral vec_id"):
        embedding_near_dup_pairs(emb)
