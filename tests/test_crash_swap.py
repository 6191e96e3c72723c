"""Crash consistency of io.rewrite_and_swap, the one commit protocol
behind every compaction (io.compact_dataset, store.retention_compact,
dedup_index.compact_minhash_index).

Each caller is crashed at each os.rename of the swap and inside the
trash rmtree. The crashed state must read as exactly the pre- or the
post-compaction rows once a reader has healed it, and a retried
compaction, entered in the unhealed crashed state, must converge to the
post-compaction rows and leave no sidecar behind. A reader's heal
deletes nothing, so the sink that owns the dataset deletes the sidecar
a heal left on its next batch."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from warp_pipe_spark.datapipe.dedup_index import (
    IngestDedupSink,
    build_minhash_index,
    compact_minhash_index,
    update_minhash_index,
)
from warp_pipe_spark.datapipe.ingest import CorpusQualityGateSink
from warp_pipe_spark.io import compact_dataset, recover_swap
from warp_pipe_spark.store import retention_compact


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class Crash(Exception):
    pass


class _GateBatch:
    """compact_dataset on one committed batch dir of a gate sink, read
    back through the sink (io.committed_batch_dirs)."""

    def build(self, spark, base):
        accept = os.path.join(base, "accept")
        for b in range(2):
            spark.range(10 * b, 10 * b + 10).selectExpr(
                "id AS doc_id", "concat('doc ', id) AS text"
            ).repartition(3).write.parquet(os.path.join(accept, f"batch_{b}"))
        rows = [(i, f"doc {i}") for i in range(20)]
        return rows, rows

    def swapped(self, base):
        return os.path.join(base, "accept", "batch_1")

    def compact(self, spark, base):
        compact_dataset(spark, self.swapped(base))

    def read(self, spark, base):
        return _rows(CorpusQualityGateSink(spark, base).accepted())

    def sink_batch(self, spark, base):
        """One more gate-sink batch; returns the rows read back from
        the batches before it."""
        docs = spark.range(100, 104).selectExpr(
            "id AS doc_id", "concat('new doc ', id) AS text"
        )
        sink = CorpusQualityGateSink(spark, base)
        sink(docs, 2)
        return _rows(sink.accepted().select("doc_id", "text").filter("doc_id < 100"))


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


class _MinhashIndex:
    """dedup_index.compact_minhash_index on an index whose batch 0 was
    appended twice (the replay duplicates compaction drops)."""

    def build(self, spark, base):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "an entirely different sentence about spark"),
            ],
            "doc_id LONG, text STRING",
        )
        idx = os.path.join(base, "idx")
        build_minhash_index(docs.filter(F.col("doc_id") == 1), idx)
        batch = docs.filter(F.col("doc_id") > 1)
        update_minhash_index(batch, idx, ingest_batch=0)
        update_minhash_index(batch, idx, ingest_batch=0)  # the replay
        pre = self.read(spark, base)
        post = sorted(set(pre))
        assert len(post) < len(pre)
        return pre, post

    def swapped(self, base):
        return os.path.join(base, "idx", "bands")

    def compact(self, spark, base):
        compact_minhash_index(spark, os.path.join(base, "idx"))

    def read(self, spark, base):
        recover_swap(self.swapped(base))
        df = spark.read.parquet(self.swapped(base))
        return _rows(df.select("band", "key", "doc_id", "ingest_batch"))

    def sink_batch(self, spark, base):
        """One more ingest-sink batch (id 7); returns the index rows of
        the batches before it."""
        docs = spark.createDataFrame(
            [(4, "the quick brown fox jumps over the lazy dog again")],
            "doc_id LONG, text STRING",
        )
        IngestDedupSink(spark, os.path.join(base, "idx"), os.path.join(base, "out"))(
            docs, 7
        )
        df = spark.read.parquet(self.swapped(base)).filter("ingest_batch != 7")
        return _rows(df.select("band", "key", "doc_id", "ingest_batch"))


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


def _crash_trash_rmtree():
    """shutil.rmtree that, on the swap's final trash delete, removes one
    file and raises: a crash part-way through the delete."""
    real = shutil.rmtree

    def rmtree(path, ignore_errors=False, *a, **kw):
        if str(path).endswith("._trash") and not ignore_errors:
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
    "rmtree_trash": ("rmtree", _crash_trash_rmtree, "post"),
}

CALLERS = {
    "compact_dataset": _GateBatch,
    "retention_compact": _Retention,
    "compact_minhash_index": _MinhashIndex,
}


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
@pytest.mark.parametrize("caller", ["compact_dataset", "compact_minhash_index"])
def test_sink_batch_after_reader_heal_deletes_the_sidecar(
    spark, tmp_path, monkeypatch, caller, crash
):
    c = CALLERS[caller]()
    base = str(tmp_path / "crashed")
    _, _, seen = _crashed(c, spark, base, monkeypatch, crash)
    swapped = c.swapped(base)

    # the reader heals and leaves the other side where it was: the old
    # copy after a finished swap, the torn copy after a restore
    assert c.read(spark, base) == seen
    assert bool(_sidecars(swapped)) == (crash != "rename_in_no_copy")

    # the sink's next batch deletes it and keeps every earlier row
    assert c.sink_batch(spark, base) == seen
    assert _sidecars(swapped) == []
