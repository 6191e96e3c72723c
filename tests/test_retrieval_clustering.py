"""BM25 / TF-IDF retrieval, deterministic k-means + SemDeDup,
PageRank, and deterministic sampling — semantics on hand-checkable
fixtures."""

import math

import pytest
from pyspark.sql import functions as F

from warp_pipe_spark.datapipe.clustering import (
    kmeans_assign,
    pagerank,
    semdedup_pairs,
)
from warp_pipe_spark.datapipe.retrieval import bm25_topk, tfidf_top_terms
from warp_pipe_spark.datapipe.sampling import (
    stratified_sample,
    weighted_priority_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spark query engine", "a"),
        (2, "spark spark spark shuffle", "a"),
        (3, "query planner rules", "b"),
        (4, "totally unrelated words here", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")


# --- BM25 ------------------------------------------------------------


def test_bm25_scores_and_ranking(docs):
    out = bm25_topk(docs, ["spark", "query"], top_k=10).collect()
    got = {r["doc_id"]: r for r in out}
    # doc 4 shares no query terms -> absent
    assert set(got) == {1, 2, 3}
    # doc 1 hits both terms, docs 2/3 hit one each
    assert got[1]["n_terms_hit"] == 2
    assert got[2]["n_terms_hit"] == 1
    # hand-check doc 3's single-term score:
    # N=4 docs, df(query)=2, dl=3, avgdl=(3+4+3+4)/4=3.5, tf=1
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    tfp = (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * 3 / 3.5))
    assert got[3]["score"] == pytest.approx(round(idf * tfp, 6), abs=1e-6)
    # ranking is by score desc
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_bm25_repeated_term_saturates(docs):
    # BM25's tf saturation: doc 2 (tf=3) scores more than doc 1's
    # spark-term contribution but less than 3x it.
    out = {r["doc_id"]: r["score"] for r in bm25_topk(docs, ["spark"]).collect()}
    assert out[2] > out[1]
    assert out[2] < 3 * out[1]


# --- TF-IDF ----------------------------------------------------------


def test_tfidf_top_terms_ranks_distinctive_terms(docs):
    out = tfidf_top_terms(docs, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    # doc 2: 'spark' tf=3 df=2 -> 3*ln(2); 'shuffle' tf=1 df=1 -> ln(4)
    top2 = sorted(by_doc[2], key=lambda r: r["rank"])
    assert top2[0]["term"] == "spark"
    assert top2[0]["tfidf"] == pytest.approx(3 * math.log(2), abs=1e-6)
    assert top2[1]["term"] == "shuffle"
    # ranks are 1..k within each doc
    assert [r["rank"] for r in top2] == [1, 2]


# --- k-means / SemDeDup ---------------------------------------------


@pytest.fixture(scope="module")
def embs(spark):
    # two tight groups far apart; ids 0/1 seed the two init centroids
    rows = [
        (0, [0.0, 0.1]),
        (1, [10.0, 10.0]),
        (2, [0.1, 0.0]),
        (3, [10.1, 9.9]),
        (4, [0.05, 0.05]),
        (5, [9.9, 10.1]),
    ]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_kmeans_separates_two_blobs(embs):
    out = {r["vec_id"]: r["cluster"] for r in kmeans_assign(embs, k=2, iters=2).collect()}
    assert out[0] == out[2] == out[4]
    assert out[1] == out[3] == out[5]
    assert out[0] != out[1]


def test_kmeans_is_deterministic(embs):
    a = sorted(map(tuple, kmeans_assign(embs, k=2, iters=2).collect()))
    b = sorted(map(tuple, kmeans_assign(embs, k=2, iters=2).collect()))
    assert a == b


def test_semdedup_only_intra_cluster_pairs(embs):
    pairs = semdedup_pairs(embs, k=2, iters=2, threshold=0.9).collect()
    assert pairs  # the tight blobs produce near-dup pairs
    clusters = {r["vec_id"]: r["cluster"] for r in kmeans_assign(embs, k=2, iters=2).collect()}
    for r in pairs:
        assert r["vec_a"] < r["vec_b"]
        assert clusters[r["vec_a"]] == clusters[r["vec_b"]] == r["cluster"]
        assert r["cos_sim"] >= 0.9


# --- PageRank --------------------------------------------------------


def test_pagerank_sums_to_one_and_favors_sink(spark):
    # a -> b, a -> c, b -> c, c -> a (cycle, no dangling)
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src STRING, dst STRING, weight DOUBLE",
    )
    out = {r["node"]: r["pr"] for r in pagerank(edges, iters=10).collect()}
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-5)
    # c receives from both a and b -> highest rank
    assert out["c"] > out["a"] > out["b"]


def test_pagerank_dangling_mass_redistributed(spark):
    # b has no out-edges; without dangling handling total mass decays
    edges = spark.createDataFrame(
        [("a", "b", 1.0)], "src STRING, dst STRING, weight DOUBLE"
    )
    out = {r["node"]: r["pr"] for r in pagerank(edges, iters=20).collect()}
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-4)
    assert out["b"] > out["a"]


def test_pagerank_weights_shift_rank(spark):
    edges = spark.createDataFrame(
        [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src STRING, dst STRING, weight DOUBLE",
    )
    out = {r["node"]: r["pr"] for r in pagerank(edges, iters=10).collect()}
    assert out["b"] > out["c"]


# --- sampling --------------------------------------------------------


def test_stratified_sample_exact_counts(docs):
    out = stratified_sample(docs, fraction=0.5).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r["stratum"], []).append(r)
    # each source has 2 docs -> ceil(0.5*2) = 1 kept
    assert {k: len(v) for k, v in by_stratum.items()} == {"a": 1, "b": 1}
    assert all(r["stratum_size"] == 2 for r in out)


def test_stratified_sample_deterministic(docs):
    a = sorted(map(tuple, stratified_sample(docs, fraction=0.5).collect()))
    b = sorted(map(tuple, stratified_sample(docs, fraction=0.5).collect()))
    assert a == b


def test_weighted_priority_sample_prefers_heavy(spark):
    rows = [(i, 1.0 if i else 1e9) for i in range(200)]
    df = spark.createDataFrame(rows, "id LONG, w DOUBLE")
    out = weighted_priority_sample(df, "w", "id", top_k=5).collect()
    # the one enormous weight is always selected
    assert 0 in {r["id"] for r in out}
    # zero/negative weights are excluded, priorities ascend
    pr = [r["priority"] for r in out]
    assert pr == sorted(pr)


def test_vectorized_assign_matches_fold_assign(spark):
    """The Arrow einsum assignment (used when k > 16) must produce the
    identical (cluster, dist) contract as the zip_with fold reference:
    6-dp rounded distances, ties to the smaller cid."""
    import random

    from pyspark.sql import functions as F

    from warp_pipe_spark.datapipe.clustering import _assign, _assign_vec

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    # an exact duplicate of a centroid vector exercises the dist=0
    # cancellation clamp (-0.0 must not appear)
    rows[30] = (30, rows[3][1])
    vecs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).select("vec_id", F.col("embedding").alias("v"))
    cent = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    a = {r["vec_id"]: (r["cluster"], r["dist"]) for r in _assign(vecs, cent).collect()}
    b = {r["vec_id"]: (r["cluster"], r["dist"]) for r in _assign_vec(vecs, cent).collect()}
    assert a == b
    assert b[30] == (3, 0.0)
    assert str(b[30][1]) == "0.0"  # not -0.0


def test_pack_chunks_layout_invariants(spark):
    """Packing invariants: within each shard the token stream is
    contiguous (sorted tok_starts meet tok_ends exactly), chunk spans
    cover each doc's tokens, and straddling is consistent."""
    from warp_pipe_spark.datapipe.sampling import pack_chunks

    rows = [(i, " ".join(["w"] * (7 + i % 13))) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = pack_chunks(docs, chunk_tokens=16, n_shards=4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for rows_ in by_shard.values():
        rows_.sort(key=lambda r: r["tok_start"])
        pos = 0
        for r in rows_:
            assert r["tok_start"] == pos  # contiguous stream, no gaps
            pos += r["n_tokens"]
            assert r["chunk_first"] == r["tok_start"] // 16
            assert r["chunk_last"] == (r["tok_start"] + r["n_tokens"] - 1) // 16
            assert r["chunk_first"] <= r["chunk_last"]


def test_pack_chunks_deterministic(spark):
    from warp_pipe_spark.datapipe.sampling import pack_chunks

    rows = [(i, " ".join(["w"] * (3 + i % 5))) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    a = sorted(map(tuple, pack_chunks(docs).collect()))
    b = sorted(map(tuple, pack_chunks(docs).collect()))
    assert a == b


def test_unigram_logppl_orders_rare_docs_higher(spark):
    """A doc of corpus-rare tokens must score higher log-perplexity
    than one of corpus-common tokens; values match the hand formula."""
    import math

    from warp_pipe_spark.datapipe.text import unigram_logppl

    rows = [
        (1, "common common common"),
        (2, "common common common"),
        (3, "rare words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in unigram_logppl(docs).collect()}
    assert out[3]["logppl"] > out[1]["logppl"]
    # corpus: V=9 tokens, T=4 types; doc1 tokens all tf=6
    expect = round(-math.log((6 + 1.0) / (9 + 4)), 6)
    assert out[1]["logppl"] == pytest.approx(expect, abs=1e-6)
    assert out[1]["n_tokens"] == 3


# --- adversarial edges ----------------------------------------------


def test_pagerank_empty_graph_returns_empty(spark):
    edges = spark.createDataFrame([], "src STRING, dst STRING, weight DOUBLE")
    assert pagerank(edges, iters=3).collect() == []


def test_bm25_no_matching_terms_returns_empty(docs):
    assert bm25_topk(docs, ["zzzmissing"], top_k=5).collect() == []


def test_kmeans_more_centroids_than_vectors(spark):
    emb = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    out = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb, k=10, iters=2).collect()}
    assert out == {0: 0, 1: 1}  # every vector is its own centroid


def test_pack_chunks_empty_and_single_doc(spark):
    from warp_pipe_spark.datapipe.sampling import pack_chunks

    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    assert pack_chunks(empty).collect() == []
    one = spark.createDataFrame([(7, "a b c")], "doc_id LONG, text STRING")
    r = pack_chunks(one, chunk_tokens=2).collect()[0]
    assert (r["tok_start"], r["n_tokens"], r["chunk_first"], r["chunk_last"]) == (0, 3, 0, 1)


def test_stratified_sample_empty(spark):
    from warp_pipe_spark.datapipe.sampling import stratified_sample

    empty = spark.createDataFrame([], "doc_id LONG, text STRING, source STRING")
    assert stratified_sample(empty).collect() == []


def test_chunk_texts_reassembles_exact_chunks(spark):
    """Chunk digests must equal md5 of the hand-reconstructed chunk
    strings from the layout."""
    import hashlib

    from warp_pipe_spark.datapipe.sampling import chunk_texts, pack_chunks

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(5 + i % 4))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    layout = pack_chunks(docs, chunk_tokens=8, n_shards=2).collect()
    texts = dict(rows)
    # rebuild each shard's token stream in layout order
    streams = {}
    for r in sorted(layout, key=lambda r: (r["shard"], r["tok_start"])):
        streams.setdefault(r["shard"], []).extend(texts[r["doc_id"]].split(" "))
    want = {}
    for shard, stream in streams.items():
        for c in range((len(stream) + 7) // 8):
            chunk = stream[c * 8 : (c + 1) * 8]
            want[(shard, c)] = (
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    got = {
        (r["shard"], r["chunk_id"]): (r["n_tokens"], r["chunk_md5"])
        for r in chunk_texts(docs, chunk_tokens=8, n_shards=2).collect()
    }
    assert got == want


def test_chunk_texts_overlap_reassembles_sliding_windows(spark):
    """Sliding-window digests must equal md5 of the hand-reconstructed
    [k*stride, k*stride+chunk) slices of each shard's stream — pinning
    both the membership formula (incl. the pos < chunk guard) and the
    in-window token order."""
    import hashlib

    from warp_pipe_spark.datapipe.sampling import chunk_texts_overlap, pack_chunks

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(5 + i % 4))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    chunk, stride = 8, 5
    layout = pack_chunks(docs, chunk_tokens=chunk, n_shards=2).collect()
    texts = dict(rows)
    streams = {}
    for r in sorted(layout, key=lambda r: (r["shard"], r["tok_start"])):
        streams.setdefault(r["shard"], []).extend(texts[r["doc_id"]].split(" "))
    want = {}
    for shard, stream in streams.items():
        k = 0
        while k * stride < len(stream):
            win = stream[k * stride : k * stride + chunk]
            want[(shard, k)] = (
                len(win),
                hashlib.md5(" ".join(win).encode()).hexdigest(),
            )
            k += 1
    got = {
        (r["shard"], r["chunk_id"]): (r["n_tokens"], r["chunk_md5"])
        for r in chunk_texts_overlap(
            docs, chunk_tokens=chunk, stride=stride, n_shards=2
        ).collect()
    }
    assert got == want
    # overlap sanity: full adjacent windows share chunk - stride tokens
    for shard, stream in streams.items():
        if len(stream) >= chunk + stride:
            a = stream[0:chunk]
            b = stream[stride : stride + chunk]
            assert a[stride:] == b[: chunk - stride]


def test_chunk_overlap_degenerates_to_disjoint_at_full_stride(spark):
    """stride == chunk_tokens makes the sliding windows disjoint —
    the output must equal chunk_texts exactly (membership formula
    correctness at the boundary)."""
    from warp_pipe_spark.datapipe.sampling import chunk_texts, chunk_texts_overlap

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(5 + i % 4))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    a = {
        (r["shard"], r["chunk_id"]): (r["n_tokens"], r["chunk_md5"])
        for r in chunk_texts(docs, chunk_tokens=8, n_shards=2).collect()
    }
    b = {
        (r["shard"], r["chunk_id"]): (r["n_tokens"], r["chunk_md5"])
        for r in chunk_texts_overlap(
            docs, chunk_tokens=8, stride=8, n_shards=2
        ).collect()
    }
    assert a == b


def test_chunk_overlap_rejects_gapped_stride(spark):
    import pytest

    from warp_pipe_spark.datapipe.sampling import chunk_texts_overlap

    docs = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="GAPS"):
        chunk_texts_overlap(docs, chunk_tokens=4, stride=5)


def test_kmeans_init_is_k_smallest_ids_not_id_lt_k(spark):
    """Init must be the k SMALLEST vec_ids, not `vec_id < k`: on a
    1-based (or hashed/offset) id space the latter silently yields
    fewer or zero centroids — semdedup then finds nothing with no
    error anywhere."""
    import numpy as np

    from warp_pipe_spark.datapipe.clustering import kmeans_assign

    rng = np.random.RandomState(7)
    rows = [
        (100 + i, [float(x) for x in rng.randn(4)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = kmeans_assign(emb, k=4, iters=1).collect()
    assert len(out) == 40
    assert len({r["cluster"] for r in out}) > 1  # real centroids, not 0

    # id-shifted corpus must cluster identically (init is rank-based)
    shifted = spark.createDataFrame(
        [(vid + 1_000_000, v) for vid, v in rows],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    a = sorted((r["vec_id"] - 100, r["cluster"]) for r in out)
    b = sorted(
        (r["vec_id"] - 1_000_100, r["cluster"])
        for r in kmeans_assign(shifted, k=4, iters=1).collect()
    )
    # cluster LABELS are centroid ids (differ by the shift); compare the
    # induced partitions instead
    def parts(pairs):
        by = {}
        for vid, c in pairs:
            by.setdefault(c, set()).add(vid)
        return sorted(map(frozenset, by.values()), key=min)

    assert parts(a) == parts(b)


def test_kmeans_vectorized_path_empty_corpus_fails_loud(spark):
    import pytest as _pytest

    from warp_pipe_spark.datapipe.clustering import kmeans_assign

    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with _pytest.raises(ValueError, match="empty"):
        kmeans_assign(empty, k=32, iters=1)


def test_pack_chunks_null_text_excluded_not_poisoned(spark):
    """A NULL-text doc must be EXCLUDED from the layout, not emitted as
    a poisoned row: size(split(NULL)) is NULL, the shard's running sum
    skips it (neighbors stay correct), but pre-fix the NULL doc itself
    emitted (tok_start=NULL, chunk_last=<neighbors' running sum>) —
    which a data loader reads as 'this doc spans chunk k'. The layout
    and the materialized chunks must both equal the corpus without the
    NULL doc."""
    from warp_pipe_spark.datapipe.sampling import (
        chunk_texts,
        chunk_texts_overlap,
        pack_chunks,
    )

    with_null = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e")], "doc_id LONG, text STRING"
    )
    without = with_null.filter("text IS NOT NULL")

    got = sorted(map(tuple, pack_chunks(with_null, n_shards=2).collect()))
    expect = sorted(map(tuple, pack_chunks(without, n_shards=2).collect()))
    assert got == expect
    assert {r[0] for r in got} == {1, 3}
    assert all(v is not None for r in got for v in r)

    for kw in (
        dict(fn=chunk_texts),
        dict(fn=chunk_texts_overlap, stride=3),
    ):
        fn = kw.pop("fn")
        a = sorted(
            map(tuple, fn(with_null, n_shards=2, chunk_tokens=4, **kw).collect())
        )
        b = sorted(
            map(tuple, fn(without, n_shards=2, chunk_tokens=4, **kw).collect())
        )
        assert a == b


def test_select_token_budget_hand_fixture(spark):
    """Budgeted selection == the textbook global window
    sum(tok) OVER (ORDER BY score DESC, doc_id) <= budget, computed
    without the global sort. Boundary-bin greediness: an overflowing
    doc STOPS the fill inside its score bin (no skipping)."""
    from warp_pipe_spark.datapipe.sampling import select_token_budget

    rows = [
        # (doc_id, score, n_tokens)
        (1, 3, 10),   # cum 10  -> keep (bin 3 fully fits)
        (2, 3, 10),   # cum 20  -> keep
        (3, 2, 15),   # cum 35  -> keep (boundary bin: fits)
        (4, 2, 20),   # cum 55  -> over 40: stops the fill
        (5, 2, 1),    # after the stop -> dropped despite fitting
        (6, 1, 1),    # budget spent -> drop bin
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, score LONG, n_tokens LONG")
    got = {
        r["doc_id"]: r["keep"]
        for r in select_token_budget(df, budget=40).collect()
    }
    assert got == {1: True, 2: True, 3: True, 4: False, 5: False, 6: False}
    # budget exactly at a bin edge: the whole bin keeps, next bin drops
    got2 = {
        r["doc_id"]: r["keep"]
        for r in select_token_budget(df, budget=20).collect()
    }
    assert got2 == {1: True, 2: True, 3: False, 4: False, 5: False, 6: False}


def test_select_token_budget_matches_global_window_on_testdata(spark):
    """Equivalence to the naive global-window formulation on the real
    corpus, scored by quality_scores (integer-ish micro bins), via the
    r12-registration DuckDB oracle."""
    import duckdb

    from warp_pipe_spark.datapipe.sampling import select_token_budget
    from warp_pipe_spark.datapipe.text import quality_scores

    pq = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(pq).filter("text IS NOT NULL")
    scored = quality_scores(docs).select(
        "doc_id", (F.col("quality_score") * 10).cast("long").alias("score"),
        "n_tokens",
    )
    budget = 20_000
    got = sorted(
        (r["doc_id"], r["keep"])
        for r in select_token_budget(scored, budget).collect()
    )
    want = sorted(
        (int(d), bool(k))
        for d, k in duckdb.sql(
            f"""
        WITH tok AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                 text, length(text) AS n_chars
          FROM read_parquet('{pq}') WHERE text IS NOT NULL
        ),
        q AS (
          SELECT doc_id, n_tokens,
            CAST((
              (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.4 ELSE 0 END
               + CASE WHEN round(len(list_filter(string_split(text,' '),
                     x -> x IN ('a','the')))::DOUBLE / n_tokens, 6) <= 0.3
                 THEN 0.3 ELSE 0 END
               + CASE WHEN round(length(regexp_replace(text,'[a-z0-9 ]','','g'))::DOUBLE
                     / n_chars, 6) <= 0.1 THEN 0.2 ELSE 0 END
               + CASE WHEN round((n_chars - (n_tokens-1))::DOUBLE / n_tokens, 6) >= 3.0
                 THEN 0.1 ELSE 0 END) * 10) AS BIGINT) AS score
          FROM tok
        )
        SELECT doc_id,
               sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
                 <= {budget} AS keep
        FROM q
        """
        ).fetchall()
    )
    assert len(got) == len(want) > 0
    assert got == want
    n_keep = sum(1 for _, k in got if k)
    assert 0 < n_keep < len(got)  # the budget actually bites


def test_temperature_mix_boosts_the_tail(spark):
    """alpha<1 must RAISE the tail group's kept share and LOWER the
    head's relative to the natural mix; alpha=1 keeps everything
    (rates never exceed 1 and the natural mix needs no downsampling
    when targets equal masses); determinism across reruns."""
    from warp_pipe_spark.datapipe.sampling import temperature_mix

    rows = []
    did = 0
    for src, n in (("head", 900), ("mid", 90), ("tail", 10)):
        for _ in range(n):
            rows.append((did, src, 100))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id LONG, source STRING, n_tokens LONG"
    )

    kept = temperature_mix(docs, alpha=0.3).groupBy("source").count()
    k = {r["source"]: r["count"] for r in kept.collect()}
    # tail keeps everything (capped at rate 1), head is cut hard
    assert k["tail"] == 10
    assert k["head"] < 900 * 0.5
    # share of tail in the kept mix far exceeds its natural 1%
    tot = sum(k.values())
    assert k["tail"] / tot > 0.03

    k1 = {
        r["source"]: r["count"]
        for r in temperature_mix(docs, alpha=1.0)
        .groupBy("source")
        .count()
        .collect()
    }
    assert k1 == {"head": 900, "mid": 90, "tail": 10}

    again = {
        r["source"]: r["count"]
        for r in temperature_mix(docs, alpha=0.3)
        .groupBy("source")
        .count()
        .collect()
    }
    assert again == k


def test_temperature_mix_ignores_null_weights(spark):
    from warp_pipe_spark.datapipe.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 100), (3, "b", None), (4, "b", None)],
        "doc_id LONG, source STRING, n_tokens LONG",
    )
    kept = temperature_mix(docs, alpha=0.5).collect()
    # the all-NULL group contributes no mass and no kept rows; the
    # real group survives whole at the default budget
    assert {r["doc_id"] for r in kept} == {1, 2}


def test_temperature_mix_excludes_null_groups_from_budget_math(spark):
    """A NULL-source group can never match the final equi-join; it
    must be excluded BEFORE the budget math so its mass doesn't
    inflate other groups' targets (review finding)."""
    from warp_pipe_spark.datapipe.sampling import temperature_mix

    rows = [(i, "a", 100) for i in range(10)]
    rows += [(100 + i, None, 100) for i in range(90)]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, source STRING, n_tokens LONG"
    )
    kept = temperature_mix(docs, alpha=0.5).collect()
    # only the real group exists; at the default budget it is kept
    # whole — if the NULL mass leaked into the math, rates would skew
    assert {r["doc_id"] for r in kept} == set(range(10))


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR (Xie et al. 2023): hashed-ngram importance weights must
    score docs that share the target sample's vocabulary above docs
    that don't, and Gumbel-top-k selection ∝ w must pick mostly
    target-like docs; reruns are bit-identical (hash-derandomized)."""
    from warp_pipe_spark.datapipe.sampling import dsir_select, dsir_weights

    rows = []
    for i in range(50):
        rows.append((i, "the quick brown fox jumps over the lazy dog"))
    for i in range(50, 100):
        rows.append((i, "zz yy xx ww vv uu tt ss rr qq pp oo"))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    target = spark.createDataFrame(
        [(1000 + j, "quick brown fox and the lazy dog again") for j in range(5)],
        "doc_id LONG, text STRING",
    )

    w = {r["doc_id"]: r["logw_micro"] for r in dsir_weights(docs, target).collect()}
    assert len(w) == 100
    mean_like = sum(w[i] for i in range(50)) / 50
    mean_junk = sum(w[i] for i in range(50, 100)) / 50
    assert mean_like > mean_junk

    sel = dsir_select(docs, target, k=30)
    picked = {r["doc_id"] for r in sel.collect()}
    assert len(picked) == 30
    assert sum(1 for i in picked if i < 50) >= 25  # mostly target-like

    again = {r["doc_id"] for r in dsir_select(docs, target, k=30).collect()}
    assert again == picked


def test_dsir_null_and_empty_text(spark):
    """NULL text is excluded (the temperature_mix convention); empty
    text is a real doc whose single '' unigram is a feature like any
    other — present in the output, never a crash."""
    from warp_pipe_spark.datapipe.sampling import dsir_weights

    docs = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")], "doc_id LONG, text STRING"
    )
    target = spark.createDataFrame([(9, "a b")], "doc_id LONG, text STRING")
    out = {r["doc_id"]: r["logw_micro"] for r in dsir_weights(docs, target).collect()}
    assert set(out) == {1, 3}
    assert out[1] > out[3]  # doc 1 shares the target's features


def test_dsir_matches_duckdb_bit_for_bit(spark, sf_dir):
    """Pre-validation of the r16 registration oracle (the r11/r12
    queue pattern): the full DSIR pipeline — hashed unigram+bigram
    buckets, Laplace micro log-ratios (ONE ln per bucket in a pinned
    operation order, half-away micro rounding), exact integer per-doc
    sums, hash-derandomized Gumbel keys, ORDER BY key LIMIT k — must
    replay bit-for-bit in DuckDB on the real sf0.001 documents."""
    import duckdb

    from warp_pipe_spark.datapipe.sampling import dsir_select
    from warp_pipe_spark.io import read_table

    B, K = 4096, 100
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    target = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    got = sorted(
        (r["doc_id"], r["logw_micro"], r["key_micro"])
        for r in dsir_select(docs, target, k=K, n_buckets=B).collect()
    )

    h32 = "('0x' || substr(md5({x}), 1, 8))::BIGINT"
    feats = """
      SELECT doc_id,
             {h} % {B} AS bucket
      FROM (
        SELECT doc_id,
               unnest(
                 string_split(text, ' ') ||
                 list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
                 )
               ) AS ng
        FROM {src}
      )
    """
    sql = f"""
    WITH d AS (
      SELECT doc_id, text
      FROM read_parquet('{sf_dir}/documents.parquet') WHERE text IS NOT NULL
    ),
    tgt AS (
      SELECT doc_id, text
      FROM read_parquet('{sf_dir}/documents.parquet')
      WHERE text IS NOT NULL AND source = 'src0'
    ),
    rawf AS ({feats.format(h=h32.format(x="ng"), B=B, src="d")}),
    tgtf AS ({feats.format(h=h32.format(x="ng"), B=B, src="tgt")}),
    q AS (SELECT bucket, CAST(count(*) AS BIGINT) AS q_cnt FROM rawf GROUP BY bucket),
    p AS (SELECT bucket, CAST(count(*) AS BIGINT) AS p_cnt FROM tgtf GROUP BY bucket),
    tot AS (
      SELECT (SELECT CAST(sum(q_cnt) AS BIGINT) FROM q) AS q_tot,
             (SELECT CAST(sum(p_cnt) AS BIGINT) FROM p) AS p_tot
    ),
    ratio AS (
      SELECT q.bucket,
             CAST(floor(ln(
               (COALESCE(p.p_cnt, 0) + 1.0) * (tot.q_tot + {B}.0)
               / ((q.q_cnt + 1.0) * (COALESCE(tot.p_tot, 0) + {B}.0))
             ) * 1000000 + 0.5) AS BIGINT) AS lr_micro
      FROM q LEFT JOIN p USING (bucket), tot
    ),
    scored AS (
      SELECT rawf.doc_id, CAST(sum(ratio.lr_micro) AS BIGINT) AS logw_micro
      FROM rawf JOIN ratio USING (bucket) GROUP BY rawf.doc_id
    ),
    w AS (
      SELECT d.doc_id, COALESCE(scored.logw_micro, 0) AS logw_micro
      FROM d LEFT JOIN scored USING (doc_id)
    )
    SELECT doc_id, logw_micro,
           logw_micro + CAST(floor(-ln(-ln(
             (({h32.format(x="'dsir|' || doc_id::VARCHAR")}) + 0.5) / 4294967296.0
           )) * 1000000 + 0.5) AS BIGINT) AS key_micro
    FROM w
    ORDER BY key_micro DESC, doc_id ASC
    LIMIT {K}
    """
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_unimax_allocation_caps_and_uniformity():
    """UniMax (Chung et al. 2023): small groups cap at max_epochs,
    the freed budget splits EQUALLY (not proportionally) among the
    rest; allocation is exact integer math; budget is never exceeded
    and floor-dust is bounded by the group count."""
    from warp_pipe_spark.datapipe.sampling import unimax_allocation

    masses = {"head": 900, "mid": 90, "tail": 10}
    e = unimax_allocation(masses, budget=600, max_epochs=4)
    # tail caps at 4 epochs (cap 40 < share 200); mid caps at 4 too
    # (cap 360 < (600-40)//2 = 280? no: 360 > 280 -> mid takes 280)
    assert e["tail"] == 4_000_000
    assert e["mid"] == 280 * 1_000_000 // 90
    assert e["head"] == 280 * 1_000_000 // 900
    # total allocated tokens <= budget
    spent = sum(e[g] * masses[g] // 1_000_000 for g in masses)
    assert spent <= 600
    # huge budget: everyone caps at exactly max_epochs
    full = unimax_allocation(masses, budget=10**9, max_epochs=4)
    assert all(v == 4_000_000 for v in full.values())
    # tiny budget, no caps bind: equal shares regardless of mass
    tiny = unimax_allocation(masses, budget=30, max_epochs=4)
    assert tiny["tail"] == 1_000_000  # share 10 = its whole mass @ 1 epoch? no:
    # ascending caps: tail cap 40 vs share 30//3=10 -> takes 10 (1.0 ep)
    assert tiny["mid"] == 10 * 1_000_000 // 90
    assert tiny["head"] == 10 * 1_000_000 // 900


def test_unimax_sample_matches_duckdb_bit_for_bit(spark, sf_dir):
    """The unimax_sample keep/copy rule replays bit-for-bit in DuckDB:
    the greedy ascending-cap loop as a recursive CTE (exact BIGINT
    floor division), the fractional epoch as the salted-hash
    threshold, full epochs as integer div — pre-validating the oracle
    for a future registration slot."""
    import duckdb

    from warp_pipe_spark.datapipe.sampling import unimax_sample
    from warp_pipe_spark.io import read_table

    B, E = 300_000, 3
    docs = read_table(spark, sf_dir, "documents")
    got = sorted(
        (r["doc_id"], r["source"], r["epochs_micro"], r["n_copies"])
        for r in unimax_sample(docs, budget=B, max_epochs=E)
        .select("doc_id", "source", "epochs_micro", "n_copies")
        .collect()
    )
    assert got, "sample must be non-empty at this budget"

    sql = f"""
    WITH RECURSIVE m AS (
      SELECT source AS g, CAST(sum(n_chars) AS BIGINT) AS n
      FROM read_parquet('{sf_dir}/documents.parquet')
      WHERE n_chars IS NOT NULL AND source IS NOT NULL
      GROUP BY source
    ),
    ord AS (
      SELECT g, n, n * {E} AS cap,
             CAST(row_number() OVER (ORDER BY n * {E}, g) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS total
      FROM m
    ),
    alloc AS (
      SELECT CAST(0 AS BIGINT) AS i, CAST({B} AS BIGINT) AS remaining,
             CAST(NULL AS VARCHAR) AS g, CAST(NULL AS BIGINT) AS epochs_micro
      UNION ALL
      SELECT o.i,
             a.remaining - least(o.cap, a.remaining // (o.total - o.i + 1)),
             o.g,
             least(o.cap, a.remaining // (o.total - o.i + 1)) * 1000000
               // greatest(o.n, 1)
      FROM alloc a JOIN ord o ON o.i = a.i + 1
    ),
    r AS (SELECT g, epochs_micro FROM alloc WHERE g IS NOT NULL)
    SELECT d.doc_id, d.source, r.epochs_micro,
           epochs_micro // 1000000
           + CASE WHEN ('0x' || substr(md5('unimax|' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                       % 1000000 < epochs_micro % 1000000
                  THEN 1 ELSE 0 END AS n_copies
    FROM read_parquet('{sf_dir}/documents.parquet') d
    JOIN r ON d.source = r.g
    WHERE d.n_chars IS NOT NULL
      AND epochs_micro // 1000000
          + CASE WHEN ('0x' || substr(md5('unimax|' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                      % 1000000 < epochs_micro % 1000000
                 THEN 1 ELSE 0 END > 0
    """
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_dsir_index_replays_weights_and_scores_unseen(spark, tmp_path):
    """The persisted DSIR ratio table (train/serve split): scoring the
    build corpus through the index replays dsir_weights bit-for-bit,
    and a served doc whose ngrams the build corpus NEVER saw still
    scores through the full-domain table (q_cnt=0 smoothed ratio)
    instead of silently summing nothing."""
    from warp_pipe_spark.datapipe.sampling import (
        build_dsir_index,
        dsir_score_indexed,
        dsir_weights,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(20)]
        + [(100 + i, "one two three four") for i in range(20)],
        "doc_id LONG, text STRING",
    )
    target = spark.createDataFrame(
        [(900, "alpha beta gamma")], "doc_id LONG, text STRING"
    )
    B = 512
    path = str(tmp_path / "dsir_idx")
    build_dsir_index(docs, target, path, n_buckets=B)

    direct = {
        r["doc_id"]: r["logw_micro"]
        for r in dsir_weights(docs, target, n_buckets=B).collect()
    }
    via_index = {
        r["doc_id"]: r["logw_micro"]
        for r in dsir_score_indexed(spark, docs, path).collect()
    }
    assert via_index == direct

    unseen = spark.createDataFrame(
        [(500, "zzzz qqqq wwww")], "doc_id LONG, text STRING"
    )
    out = dsir_score_indexed(spark, unseen, path).collect()
    assert len(out) == 1
    # 5 feature occurrences (3 unigrams + 2 bigrams), each scoring the
    # q_cnt=0 smoothed ratio — a real (nonzero) number, not a dropped sum
    assert out[0]["logw_micro"] != 0


def test_unimax_allocation_rejects_degenerate_params():
    import pytest as _pytest

    from warp_pipe_spark.datapipe.sampling import unimax_allocation

    with _pytest.raises(ValueError, match="budget"):
        unimax_allocation({"a": 10}, budget=-1)
    with _pytest.raises(ValueError, match="max_epochs"):
        unimax_allocation({"a": 10}, budget=10, max_epochs=0)


# --- SSL-prototype pruning (Sorscher et al. 2022) --------------------


def test_prototypes_prune_hard_vs_easy(embs):
    """Two 3-point blobs, quota ceil(3 · 0.34) = 2 per cluster: 'hard'
    keeps the two farthest from each centroid (drops the most
    prototypical point), 'easy' the two nearest (drops the outlier);
    with 3 points the two regimes share exactly the middle one. Rank
    is 1-based in keep order; reruns identical."""
    from warp_pipe_spark.datapipe.clustering import prototypes_prune

    def run(keep):
        rows = prototypes_prune(embs, keep_micro=340_000, keep=keep, k=2).collect()
        by_cl: dict = {}
        for r in rows:
            by_cl.setdefault(r["cluster"], []).append(r)
        return rows, by_cl

    hard_rows, hard = run("hard")
    easy_rows, easy = run("easy")
    assert len(hard_rows) == len(easy_rows) == 4  # 2 per cluster
    dist = {
        r["vec_id"]: r["dist"]
        for r in kmeans_assign(embs, k=2, iters=2).collect()
    }
    for cl, kept in hard.items():
        kept_ids = {r["vec_id"] for r in kept}
        dropped = {r["vec_id"] for r in easy[cl]} | kept_ids
        # the hard set must contain the cluster's max-dist point...
        all_in_cl = sorted(dropped, key=lambda i: (-dist[i], i))
        assert all_in_cl[0] in kept_ids
        # ...and exclude the most prototypical (min dist) one
        assert all_in_cl[-1] not in kept_ids
        # ranks are 1..n_keep in keep order
        assert sorted(r["rank"] for r in kept) == [1, 2]
    # easy is the mirror: excludes the farthest, includes the nearest
    for cl, kept in easy.items():
        kept_ids = {r["vec_id"] for r in kept}
        universe = {r["vec_id"] for r in hard[cl]} | kept_ids
        by_d = sorted(universe, key=lambda i: (dist[i], i))
        assert by_d[0] in kept_ids and by_d[-1] not in kept_ids

    again = sorted(map(tuple, prototypes_prune(embs, keep_micro=340_000, k=2).collect()))
    assert again == sorted(map(tuple, hard_rows))


def test_prototypes_prune_quota_edges(embs):
    """keep_micro=0 keeps nothing; 1e6 keeps everything; bad keep mode
    and out-of-range fractions raise."""
    from warp_pipe_spark.datapipe.clustering import prototypes_prune

    assert prototypes_prune(embs, keep_micro=0, k=2).count() == 0
    assert prototypes_prune(embs, keep_micro=1_000_000, k=2).count() == 6
    with pytest.raises(ValueError, match="keep must be"):
        prototypes_prune(embs, keep="hardest")
    with pytest.raises(ValueError, match="out of"):
        prototypes_prune(embs, keep_micro=2_000_000)


def test_prototypes_prune_matches_duckdb_bit_for_bit(spark, sf_dir):
    """Queued-oracle pre-validation on the real embeddings: the prune
    is one window + an exact integer ceil quota over the
    already-replayed emb_kmeans frame — the DuckDB replica reuses the
    registered emb_kmeans oracle text verbatim and must match
    bit-for-bit, both regimes."""
    import duckdb

    import __spark_entry__ as entrymod
    from warp_pipe_spark.datapipe.clustering import prototypes_prune
    from warp_pipe_spark.io import read_table

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    km_sql = entrymod.oracle_sql()["emb_kmeans"]
    emb = read_table(spark, sf_dir, "embeddings")
    for keep, order in (("hard", "DESC"), ("easy", "ASC")):
        got = sorted(
            (r["vec_id"], r["cluster"], r["dist"], r["rank"])
            for r in prototypes_prune(emb, keep_micro=250_000, keep=keep).collect()
        )
        want = sorted(
            map(
                tuple,
                con.sql(f"""
        WITH km AS ({km_sql}),
        c AS (SELECT cluster, count(*) AS n_c FROM km GROUP BY cluster),
        r AS (SELECT vec_id, cluster, dist,
                     row_number() OVER (PARTITION BY cluster
                                        ORDER BY dist {order}, vec_id ASC) AS rnk
              FROM km)
        SELECT r.vec_id, r.cluster, r.dist, CAST(r.rnk AS BIGINT) AS rank
        FROM r JOIN c USING (cluster)
        WHERE r.rnk <= (c.n_c * 250000 + 999999) // 1000000
        """).fetchall(),
            )
        )
        assert len(got) > 0
        assert got == want, keep


# --- persisted inverted BM25 index -----------------------------------


def test_text_index_serves_bm25_identically_and_prunes(spark, sf_dir, tmp_path):
    """The persisted inverted index must (a) return EXACTLY the
    non-indexed bm25_topk rows over the same corpus — the additive
    stats triple replays avg(dl)/count(*) bit-for-bit — and (b) show
    literal tbucket partition filters on the postings scan: unqueried
    bucket dirs are pruned at file-listing time, the inverted-index
    economy at 100 TB."""
    import re

    from warp_pipe_spark.datapipe.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )
    from warp_pipe_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    terms = ["the", "data", "pipeline"]
    path = str(tmp_path / "tidx")
    build_text_index(docs, path, n_term_buckets=16)

    out = bm25_topk_indexed(spark, path, terms)
    got = [(r["doc_id"], r["n_terms_hit"], r["score"]) for r in out.collect()]
    want = [
        (r["doc_id"], r["n_terms_hit"], r["score"])
        for r in bm25_topk(docs, terms).collect()
    ]
    assert got == want and len(got) == 10

    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "tbucket" in ln
    ]
    assert pf, plan
    assert any(re.search(r"tbucket.* IN \(", ln) for ln in pf), pf


def test_text_index_append_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Append-only maintenance: build on half the corpus, append the
    other half — every BM25 score must equal a fresh full build's
    (the additive df/stats partials sum to the exact full-corpus
    values; no read-merge-rewrite ever happened)."""
    from warp_pipe_spark.datapipe.retrieval import (
        bm25_topk_indexed,
        build_text_index,
        update_text_index,
    )
    from warp_pipe_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    terms = ["the", "data", "quality"]
    inc = str(tmp_path / "inc")
    build_text_index(docs.filter("doc_id % 2 = 0"), inc, n_term_buckets=8)
    update_text_index(docs.filter("doc_id % 2 = 1"), inc, 0)
    full = str(tmp_path / "full")
    build_text_index(docs, full, n_term_buckets=8)

    a = [
        tuple(r)
        for r in bm25_topk_indexed(spark, inc, terms).collect()
    ]
    b = [
        tuple(r)
        for r in bm25_topk_indexed(spark, full, terms).collect()
    ]
    assert a == b and len(a) == 10


def test_text_index_compaction_keeps_topk_identical(spark, sf_dir, tmp_path):
    """io.compact_index on each of postings, df and stats folds a build
    plus two appends into one generation each, and bm25_topk_indexed
    returns identical rows before and after."""
    import os

    from warp_pipe_spark.datapipe.retrieval import (
        bm25_topk_indexed,
        build_text_index,
        update_text_index,
    )
    from warp_pipe_spark.io import compact_index, read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    terms = ["the", "data", "pipeline"]
    path = str(tmp_path / "idx")
    build_text_index(docs.filter("doc_id % 3 = 0"), path, n_term_buckets=8)
    for b in (1, 2):
        update_text_index(docs.filter(f"doc_id % 3 = {b}"), path, b)
    before = bm25_topk_indexed(spark, path, terms).collect()
    for name in ("postings", "df", "stats"):
        stats = compact_index(spark, path, "bm25", name)
        assert stats["rows_after"] == stats["rows_before"]
        assert len(os.listdir(os.path.join(path, name))) == 1
    assert bm25_topk_indexed(spark, path, terms).collect() == before and before


def test_text_index_empty_query_and_unknown_term(spark, tmp_path):
    from warp_pipe_spark.datapipe.retrieval import (
        bm25_topk_indexed,
        build_text_index,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a d"), (3, None)], "doc_id LONG, text STRING"
    )
    path = str(tmp_path / "t")
    build_text_index(docs, path, n_term_buckets=4)
    assert bm25_topk_indexed(spark, path, []).count() == 0
    assert (
        bm25_topk_indexed(spark, path, ["zzz"]).count() == 0
    )
    one = bm25_topk_indexed(spark, path, ["d"]).collect()
    assert [r["doc_id"] for r in one] == [2]
