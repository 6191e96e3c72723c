"""Crash consistency of the package's two commit protocols.

io.rewrite_and_swap, the two-rename swap whose only caller is
store.retention_compact: the retention rewrite is crashed at each
os.rename of the swap and inside the trash rmtree. The crashed state
must read as exactly the pre- or the post-compaction rows once a
reader has healed it, and a retried compaction, entered in the
unhealed crashed state, must converge to the post-compaction rows and
leave no sidecar behind.

The generation ledger (io.write_index / io.compact_index) behind every
appended index and sink: an index append, a compaction and a gate-sink
batch are each crashed inside the generation write, at publish_file's
os.replace and inside a generation delete. A reader sees exactly the
pre- or the post-commit state, the retry converges to what a run with
no crash gives, and no unrecorded `_gen=` dir survives it."""

import os
import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from warp_pipe_spark.datapipe.dedup_index import (
    build_minhash_index,
    compact_minhash_index,
    update_minhash_index,
)
from warp_pipe_spark.datapipe.ingest import CorpusQualityGateSink
from warp_pipe_spark.datapipe.retrieval import build_text_index, update_text_index
from warp_pipe_spark.io import index_manifest, open_index, recover_swap
from warp_pipe_spark.store import retention_compact


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class Crash(Exception):
    pass


class _Retention:
    """store.retention_compact on a changeset log dir."""

    def build(self, spark, base):
        spark.range(1, 41).selectExpr("id", "id % 3 AS v").repartition(3).write.parquet(
            self.swapped(base)
        )
        pre = [(i, i % 3) for i in range(1, 41)]
        return pre, [r for r in pre if r[0] >= 20]

    def swapped(self, base):
        return os.path.join(base, "cslog")

    def compact(self, spark, base):
        retention_compact(spark, self.swapped(base), before_id=20)

    def read(self, spark, base):
        recover_swap(self.swapped(base))
        return _rows(spark.read.parquet(self.swapped(base)))


def _crash_rename(n, damage=None):
    """os.rename that raises on its n-th call, after `damage(src)`."""
    real, calls = os.rename, {"n": 0}

    def rename(src, dst):
        calls["n"] += 1
        if calls["n"] == n:
            if damage is not None:
                damage(src)
            raise Crash(f"crash at rename {n}: {src} -> {dst}")
        real(src, dst)

    return rename


def _crash_rmtree(hit):
    """shutil.rmtree that, on its first call for a path `hit` accepts,
    removes one file and raises: a crash part-way through the delete."""
    real = shutil.rmtree

    def rmtree(path, ignore_errors=False, *a, **kw):
        if hit(str(path)) and not ignore_errors:
            for root, _, files in os.walk(path):
                if files:
                    os.remove(os.path.join(root, files[0]))
                    break
            raise Crash(f"crash inside rmtree({path})")
        return real(path, ignore_errors, *a, **kw)

    return rmtree


def _drop_success(tmp):
    os.remove(os.path.join(tmp, "_SUCCESS"))


def _drop_copy(tmp):
    shutil.rmtree(tmp)


# crash point -> (patched attribute, patch factory, the state a reader sees)
CRASHES = {
    # before the old dir moves: untouched, a committed copy beside it
    "rename_out": ("rename", lambda: _crash_rename(1), "pre"),
    # between the renames, the committed copy waiting: finish the swap
    "rename_in": ("rename", lambda: _crash_rename(2), "post"),
    # between the renames, the copy never committed: restore the trash
    "rename_in_torn": ("rename", lambda: _crash_rename(2, _drop_success), "pre"),
    # between the renames, no copy at all: restore the trash
    "rename_in_no_copy": ("rename", lambda: _crash_rename(2, _drop_copy), "pre"),
    # part-way through deleting the old copy: the swap is done
    "rmtree_trash": (
        "rmtree",
        lambda: _crash_rmtree(lambda p: p.endswith("._trash")),
        "post",
    ),
}

CALLERS = {"retention_compact": _Retention}


def _crashed(c, spark, base, monkeypatch, crash):
    """Build `c`'s dataset under `base` and crash its compaction at
    `crash`; returns (pre rows, post rows, the rows a reader sees)."""
    pre, post = c.build(spark, base)
    attr, make, seen = CRASHES[crash]
    with monkeypatch.context() as m:
        m.setattr(os if attr == "rename" else shutil, attr, make())
        with pytest.raises(Crash):
            c.compact(spark, base)
    return pre, post, (pre if seen == "pre" else post)


def _sidecars(path):
    return [p for p in (path + "._compact", path + "._trash") if os.path.exists(p)]


@pytest.mark.parametrize("crash", sorted(CRASHES))
@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_compaction_crash_reads_pre_or_post_and_retry_converges(
    spark, tmp_path, monkeypatch, caller, crash
):
    c = CALLERS[caller]()
    base = str(tmp_path / "crashed")
    pre, post, seen = _crashed(c, spark, base, monkeypatch, crash)
    swapped = c.swapped(base)
    assert os.path.exists(swapped) == (crash in ("rename_out", "rmtree_trash"))

    # a reader heals a copy of the crashed state: exactly one side
    healed = str(tmp_path / "healed")
    shutil.copytree(base, healed)
    assert c.read(spark, healed) == seen

    # the writer retries from the unhealed state and converges
    c.compact(spark, base)
    assert c.read(spark, base) == post
    assert _sidecars(swapped) == []


@pytest.mark.parametrize("crash", ["rename_in", "rename_in_no_copy", "rename_in_torn"])
@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_compaction_after_reader_heal_deletes_the_sidecar(
    spark, tmp_path, monkeypatch, caller, crash
):
    c = CALLERS[caller]()
    base = str(tmp_path / "crashed")
    _, post, seen = _crashed(c, spark, base, monkeypatch, crash)
    swapped = c.swapped(base)

    # the reader heals and leaves the other side where it was: the old
    # copy after a finished swap, the torn copy after a restore
    assert c.read(spark, base) == seen
    assert bool(_sidecars(swapped)) == (crash != "rename_in_no_copy")

    # the next compaction deletes it and converges
    c.compact(spark, base)
    assert c.read(spark, base) == post
    assert _sidecars(swapped) == []


def _docs(spark):
    words = ["the", "data", "pipeline", "spark", "index", "stream", "fox", "dog"]
    rows = [
        (i, " ".join(words[(i * j) % len(words)] for j in range(1, 12 + i % 5)))
        for i in range(24)
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


class _IndexAppend:
    """update_text_index of batch 0 onto a built BM25 index. A crashed
    writer's torn generation is left beside it, so the append's delete
    of unrecorded generations runs (and is crashed) first."""

    kind, writes, leftover = "bm25", 3, True

    def build(self, spark, path):
        build_text_index(_docs(spark).filter("doc_id % 2 = 0"), path)

    def run(self, spark, path):
        update_text_index(_docs(spark).filter("doc_id % 2 = 1"), path, 0)


class _IndexCompaction:
    """compact_minhash_index (io.compact_index) of a MinHash index
    built from eight docs plus two appended batches."""

    kind, writes, leftover = "minhash", 1, False

    def build(self, spark, path):
        docs = _docs(spark)
        build_minhash_index(docs.filter(F.col("doc_id") < 8), path)
        for b in range(2):
            update_minhash_index(docs.filter(F.col("doc_id") % 8 == b), path, b)

    def run(self, spark, path):
        compact_minhash_index(spark, path)


class _GateBatch:
    """A CorpusQualityGateSink's batch 1 after its batch 0, with a torn
    generation of an earlier crashed batch-1 attempt left behind."""

    kind, writes, leftover = "gate", 2, True

    def build(self, spark, path):
        CorpusQualityGateSink(spark, path)(_docs(spark).filter("doc_id % 2 = 0"), 0)

    def run(self, spark, path):
        CorpusQualityGateSink(spark, path)(_docs(spark).filter("doc_id % 2 = 1"), 1)


LEDGER = {
    "index_append": _IndexAppend,
    "compact_index": _IndexCompaction,
    "gate_batch": _GateBatch,
}


def _crash_write(n):
    """DataFrameWriter.parquet whose n-th call writes its files, drops
    Spark's `_SUCCESS` and raises: a crash inside the generation write."""
    real, calls = DataFrameWriter.parquet, {"n": 0}

    def parquet(self, path, *a, **kw):
        real(self, path, *a, **kw)
        calls["n"] += 1
        if calls["n"] == n:
            _drop_success(path)
            raise Crash(f"crash inside the write of {path}")

    return parquet


def _crash_replace(src, dst):
    raise Crash(f"crash at publish: {src} -> {dst}")


def _gen_dirs(path, kind):
    """{dataset: sorted generation numbers on disk}."""
    names = index_manifest(path, kind)["datasets"]
    return {
        n: sorted(
            int(d[5:])
            for d in os.listdir(os.path.join(path, n))
            if d.startswith("_gen=")
        )
        for n in names
    }


def _state(spark, path, kind):
    """What a reader sees: each dataset's rows and generation count."""
    m = index_manifest(path, kind)
    read = open_index(spark, path, kind)[1]
    return {n: (_rows(read(n)), len(d["gens"])) for n, d in m["datasets"].items()}


def _leave_torn_generation(path, kind):
    """Copy the newest generation of the first dataset to the next
    generation number without `_SUCCESS`: what a writer that crashed
    inside its write leaves."""
    m = index_manifest(path, kind)
    name, d = next(iter(m["datasets"].items()))
    nxt = 1 + max(g for dd in m["datasets"].values() for g in dd["gens"])
    torn = os.path.join(path, name, f"_gen={nxt}")
    shutil.copytree(os.path.join(path, name, f"_gen={d['gens'][-1]}"), torn)
    _drop_success(torn)


@pytest.mark.parametrize("crash", ["write", "publish", "delete"])
@pytest.mark.parametrize("caller", sorted(LEDGER))
def test_ledger_crash_reads_pre_or_post_and_retry_converges(
    spark, tmp_path, monkeypatch, caller, crash
):
    c = LEDGER[caller]()
    ref = str(tmp_path / "ref")  # the same run with no crash
    c.build(spark, ref)
    pre = _state(spark, ref, c.kind)
    c.run(spark, ref)
    post = _state(spark, ref, c.kind)
    assert post != pre

    path = str(tmp_path / "crashed")
    c.build(spark, path)
    if c.leftover:
        _leave_torn_generation(path, c.kind)
    with monkeypatch.context() as m:
        if crash == "write":
            m.setattr(DataFrameWriter, "parquet", _crash_write(c.writes))
        elif crash == "publish":
            m.setattr(os, "replace", _crash_replace)
        else:
            m.setattr(shutil, "rmtree", _crash_rmtree(lambda p: "_gen=" in p))
        with pytest.raises(Crash):
            c.run(spark, path)
    # only a compaction deletes after its publish: old generations
    seen = post if crash == "delete" and not c.leftover else pre
    assert _state(spark, path, c.kind) == seen

    c.run(spark, path)  # the retry: a redelivered batch or a rerun
    assert _state(spark, path, c.kind) == post
    recorded = {
        n: d["gens"] for n, d in index_manifest(path, c.kind)["datasets"].items()
    }
    assert _gen_dirs(path, c.kind) == recorded
