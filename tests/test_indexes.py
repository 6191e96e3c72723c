"""The five persisted indexes share one lifecycle (io.write_index /
io.open_index): opening or appending launches no Spark job before the
function's own action, a build that dies before its manifest is
published leaves an index that refuses to open, and appending one
batch id twice equals appending it once."""

import json
import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from warp_pipe_spark import io as wio
from warp_pipe_spark.datapipe.bloom import read_bloom, update_bloom, write_bloom
from warp_pipe_spark.datapipe.dedup_index import (
    build_minhash_index,
    query_minhash_index,
    update_minhash_index,
)
from warp_pipe_spark.datapipe.ingest import DsirGateSink
from warp_pipe_spark.datapipe.retrieval import (
    bm25_topk_indexed,
    build_text_index,
    update_text_index,
)
from warp_pipe_spark.datapipe.sampling import build_dsir_index, dsir_score_indexed
from warp_pipe_spark.datapipe.similarity import (
    build_ivf_index,
    ivf_topk_indexed,
    update_ivf_index,
)
from warp_pipe_spark.io import read_table

WORDS = ["the", "data", "pipeline", "spark", "index", "stream", "fox", "dog"]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, " ".join(WORDS[(i * j) % len(WORDS)] for j in range(1, 9)))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(120)]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


#: kind -> (build(docs, emb, path, alt), open(spark, docs, emb, path),
#: append(docs, emb, path, batch_id) or None); `alt` builds with other
#: parameters
KINDS = {
    "bloom": (
        lambda d, e, p, alt: write_bloom(
            d.select(F.col("doc_id").alias("key")), p,
            m_bits=1 << (12 if alt else 14), k_hashes=3,
        ),
        lambda s, d, e, p: read_bloom(s, p)[0],
        lambda d, e, p, b: update_bloom(
            d.select((F.col("doc_id") + 1000).alias("key")), p, b
        ),
    ),
    "bm25": (
        lambda d, e, p, alt: build_text_index(d, p, n_term_buckets=4 if alt else 8),
        lambda s, d, e, p: bm25_topk_indexed(s, p, ["the", "fox"]),
        lambda d, e, p, b: update_text_index(d, p, b),
    ),
    "dsir": (
        lambda d, e, p, alt: build_dsir_index(
            d, d.filter("doc_id % 2 = 0"), p, n_buckets=32 if alt else 64
        ),
        lambda s, d, e, p: (
            DsirGateSink(s, p + "_gate", p, 0),
            dsir_score_indexed(s, d, p),
        )[1],
        None,
    ),
    "minhash": (
        lambda d, e, p, alt: build_minhash_index(
            d.filter(F.col("doc_id") % 2 == int(alt)), p
        ),
        lambda s, d, e, p: query_minhash_index(s, d, p),
        lambda d, e, p, b: update_minhash_index(d, p, b),
    ),
    "ivf": (
        lambda d, e, p, alt: build_ivf_index(e, p, n_centroids=2 if alt else 3),
        lambda s, d, e, p: ivf_topk_indexed(s, e.filter("vec_id < 5"), p, k=3),
        lambda d, e, p, b: update_ivf_index(e.filter("vec_id < 10"), p, b),
    ),
}


def _jobs(spark, monkeypatch, fn):
    """(jobs fn launched outside its own actions, number of actions):
    the actions are its DataFrame collects and parquet writes."""
    sc = spark.sparkContext
    group = f"test-indexes-{uuid.uuid4().hex}"
    tracker = sc.statusTracker()
    in_actions, n_actions = set(), [0]

    def wrap(cls, name):
        real = getattr(cls, name)

        def action(self, *args, **kwargs):
            before = set(tracker.getJobIdsForGroup(group))
            try:
                return real(self, *args, **kwargs)
            finally:
                in_actions.update(set(tracker.getJobIdsForGroup(group)) - before)
                n_actions[0] += 1

        monkeypatch.setattr(cls, name, action)

    probe = spark.range(1)
    wrap(type(probe), "collect")
    wrap(type(probe.write), "parquet")
    sc.setJobGroup(group, "index open/append jobs")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
        monkeypatch.undo()
    return set(tracker.getJobIdsForGroup(group)) - in_actions, n_actions[0]


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_open_and_append_launch_no_job_before_an_action(
    spark, monkeypatch, docs, emb, tmp_path, kind
):
    build, open_, append = KINDS[kind]
    path = str(tmp_path / kind)
    build(docs, emb, path, False)
    stray, n_actions = _jobs(spark, monkeypatch, lambda: open_(spark, docs, emb, path))
    assert stray == set()
    # ivf_topk_indexed collects the probed cell ids; nothing else acts
    assert n_actions == (kind == "ivf")
    if append is not None:
        for b in (0, 1):
            stray, n_actions = _jobs(
                spark, monkeypatch, lambda: append(docs, emb, path, b)
            )
            assert stray == set() and n_actions >= 1
        # a build plus two appends still opens with no job
        stray, n_actions = _jobs(
            spark, monkeypatch, lambda: open_(spark, docs, emb, path)
        )
        assert stray == set() and n_actions == (kind == "ivf")
    assert open_(spark, docs, emb, path).count() > 0


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_interrupted_rebuild_refuses_to_open(
    spark, monkeypatch, docs, emb, tmp_path, kind
):
    build, open_, append = KINDS[kind]
    path = str(tmp_path / kind)
    build(docs, emb, path, False)
    assert open_(spark, docs, emb, path).count() > 0

    def crash(*args, **kwargs):
        raise OSError("crash before the manifest publish")

    monkeypatch.setattr(wio, "publish_file", crash)
    with pytest.raises(OSError, match="crash before"):
        build(docs, emb, path, True)
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError, match="did not finish"):
        open_(spark, docs, emb, path)
    if append is not None:
        with pytest.raises(FileNotFoundError, match=re.escape(path)):
            append(docs, emb, path, 0)
    build(docs, emb, path, True)  # a finished rebuild opens again
    assert open_(spark, docs, emb, path).count() > 0


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", sorted(k for k in KINDS if KINDS[k][2]))
def test_appending_one_batch_id_twice_equals_appending_it_once(
    spark, docs, emb, tmp_path, kind
):
    build, open_, append = KINDS[kind]
    path = str(tmp_path / kind)

    def snapshot():
        """Every dataset's rows, and what the index answers."""
        read = wio.open_index(spark, path, kind)[1]
        names = wio.index_manifest(path, kind)["datasets"]
        return {n: _rows(read(n)) for n in names}, _rows(open_(spark, docs, emb, path))

    build(docs, emb, path, False)
    before = snapshot()
    append(docs, emb, path, 0)
    once = snapshot()
    append(docs, emb, path, 0)  # a redelivered batch
    assert snapshot() == once and once[0] != before[0]
    assert wio.index_manifest(path, kind)["mark"] == 0
    append(docs, emb, path, 1)  # the next batch id lands
    assert wio.index_manifest(path, kind)["mark"] == 1


def test_bm25_redelivered_append_does_not_double_count(spark, tmp_path):
    """sf0.001 documents: even doc_ids built, odd ones appended as batch
    0 twice. A bare append counted the batch twice and moved doc 153
    from (2, 0.922232) to (4, 1.881278)."""
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    docs = docs.select("doc_id", "text")
    path = str(tmp_path / "bm25")
    build_text_index(docs.filter("doc_id % 2 = 0"), path)
    odd = docs.filter("doc_id % 2 = 1")
    terms = ["the", "data", "pipeline"]
    update_text_index(odd, path, 0)
    once = bm25_topk_indexed(spark, path, terms).collect()
    update_text_index(odd, path, 0)
    twice = bm25_topk_indexed(spark, path, terms).collect()
    assert twice == once
    top = twice[0]
    assert (top["doc_id"], top["n_terms_hit"], round(top["score"], 6)) == (
        153, 2, 0.922232
    )


def test_index_manifest_without_generations_names_a_rebuild(spark, tmp_path):
    """An index written before the generation ledger has a manifest
    with only kind, params and schemas: opening it asks for a rebuild
    instead of reading layout it cannot place."""
    path = tmp_path / "bm25"
    path.mkdir()
    schema = spark.range(1).schema.jsonValue()
    old = {"kind": "bm25", "params": {"n_term_buckets": 8}}
    old["schemas"] = {"stats": schema}
    (path / wio.INDEX_MANIFEST).write_text(json.dumps(old))
    with pytest.raises(ValueError, match="rebuild"):
        wio.open_index(spark, str(path), "bm25")
    new = spark.createDataFrame([(1, "a")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="rebuild"):
        update_text_index(new, str(path), 0)


def test_whole_partitioned_dataset_read_past_the_listing_threshold_lists_no_job(
    spark, sf_dir, tmp_path, listing_threshold, job_descriptions
):
    """A whole-dataset read of a partitioned ledger dataset (the IVF
    cells, one `cent_id=` dir per cell) passes the partition leaf dirs,
    listed on the driver, so neither `read("cells")` nor compacting the
    cells launches a listing job, and the rows are unchanged."""
    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=10)
    update_ivf_index(emb.filter("vec_id < 20"), path, 0)
    gen0 = wio._gen_dir(path, "cells", 0)
    assert len([e for e in os.listdir(gen0) if e.startswith("cent_id=")]) == 10
    assert 10 > listing_threshold

    def rows():
        return sorted(tuple(r) for r in wio.open_index(spark, path, "ivf")[1]("cells").collect())

    want, jobs = job_descriptions(rows)
    assert not [j for j in jobs if j.startswith("Listing leaf files")], jobs
    assert len(want) == emb.count() + 20
    out, jobs = job_descriptions(lambda: wio.compact_index(spark, path, "ivf", "cells"))
    assert not [j for j in jobs if j.startswith("Listing leaf files")], jobs
    assert out["rows_before"] == out["rows_after"] == len(want)
    assert rows() == want
