"""CorpusQualityGateSink: the streaming document-quality gate must
fold to exactly the batch computation (the gate is per-doc, no corpus
state), stay idempotent under foreachBatch redelivery, and route the
audit reasons correctly."""

import pyspark.sql.functions as F
import pytest

from warp_pipe_spark.datapipe.ingest import CorpusQualityGateSink, quality_gate
from warp_pipe_spark.datapipe.text import pii_scrub
from warp_pipe_spark.io import read_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return read_table(spark, SF, "documents").select("doc_id", "text")


def test_streaming_gate_converges_to_batch(spark, tmp_path):
    """Three micro-batches through the sink == one batch gate + scrub
    over the union, row for row (accept and reject sides both)."""
    docs = _docs(spark)
    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    for i in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == i), i)

    want_gate = quality_gate(docs)
    want_accept = {
        tuple(r)
        for r in pii_scrub(
            docs.join(want_gate.filter("keep").select("doc_id"), "doc_id", "left_semi")
        ).collect()
    }
    got_accept = {tuple(r) for r in sink.accepted().collect()}
    assert got_accept == want_accept
    assert len(got_accept) > 0

    want_reject = {
        (r["doc_id"], r["reject_reason"])
        for r in want_gate.filter(~F.col("keep")).collect()
    }
    got_reject = {tuple(r) for r in sink.rejected().collect()}
    assert got_reject == want_reject
    # accept + reject partition the corpus
    assert len(got_accept) + len(got_reject) == docs.count()


def test_streaming_gate_redelivery_idempotent(spark, tmp_path):
    """At-least-once foreachBatch: redelivering a batch (even after a
    later batch landed) rewrites its dirs to the identical content."""
    docs = _docs(spark)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    sink(b0, 0)
    sink(b1, 1)
    want = {tuple(r) for r in sink.accepted().collect()}
    sink(b0, 0)  # redelivery
    got = {tuple(r) for r in sink.accepted().collect()}
    assert got == want


def test_gate_reject_reasons_are_audit_strings(spark):
    """Every reject names at least one failed gate; keeps carry ''."""
    out = quality_gate(_docs(spark))
    bad = out.filter(
        (~F.col("keep")) & (F.col("reject_reason") == "")
    ).count()
    ok = out.filter(F.col("keep") & (F.col("reject_reason") != "")).count()
    assert bad == 0 and ok == 0
    reasons = {
        r["reject_reason"]
        for r in out.filter(~F.col("keep")).select("reject_reason").distinct().collect()
    }
    assert reasons <= {"gopher", "model", "gopher,model"}


def test_empty_sink_reads_none(spark, tmp_path):
    sink = CorpusQualityGateSink(spark, str(tmp_path / "nothing"))
    assert sink.accepted() is None and sink.rejected() is None


def _crash_on_write(monkeypatch, name):
    """Make the parquet write of the ledger dataset `name` write its
    files, drop Spark's `_SUCCESS` and raise: a crash mid-write."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        real(self, path, *a, **kw)
        if f"/{name}/_gen=" in path:
            os.remove(os.path.join(path, "_SUCCESS"))
            raise OSError(f"crash inside the {name} write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def test_half_written_batch_dir_invisible_until_redelivered(
    spark, tmp_path, monkeypatch
):
    """Crash mid-write: a batch whose accept generation is half written
    must not be read (no partial output surfaces); redelivering the
    batch restores it."""
    docs = _docs(spark)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    ref = CorpusQualityGateSink(spark, str(tmp_path / "ref"))
    ref(b0, 0)
    ref(b1, 1)
    want = {tuple(r) for r in ref.accepted().collect()}

    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    sink(b0, 0)
    batch0 = {tuple(r) for r in sink.accepted().collect()}
    with monkeypatch.context() as m:
        _crash_on_write(m, "accept")
        with pytest.raises(OSError, match="accept write"):
            sink(b1, 1)
    assert {tuple(r) for r in sink.accepted().collect()} == batch0 < want
    sink(b1, 1)  # foreachBatch redelivery
    assert {tuple(r) for r in sink.accepted().collect()} == want


def test_crash_between_accept_and_reject_leaves_the_batch_invisible(
    spark, tmp_path, monkeypatch
):
    """A batch commits accept and reject together: a crash after its
    accept rows are written but inside the reject write leaves neither
    visible, so accepted() and rejected() never disagree about which
    batches landed, and the redelivery lands both."""
    docs = _docs(spark)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    sink(b0, 0)
    acc0 = {r["doc_id"] for r in sink.accepted().collect()}
    rej0 = {r["doc_id"] for r in sink.rejected().collect()}
    with monkeypatch.context() as m:
        _crash_on_write(m, "reject")
        with pytest.raises(OSError, match="reject write"):
            sink(b1, 1)
    assert {r["doc_id"] for r in sink.accepted().collect()} == acc0
    assert {r["doc_id"] for r in sink.rejected().collect()} == rej0
    sink(b1, 1)  # foreachBatch redelivery
    acc = {r["doc_id"] for r in sink.accepted().collect()}
    rej = {r["doc_id"] for r in sink.rejected().collect()}
    assert acc > acc0 and rej > rej0
    assert acc | rej == {r["doc_id"] for r in docs.collect()}


def test_compact_shrinks_files_preserves_rows(spark, tmp_path):
    """Compaction folds each dataset's batch generations into one
    generation of one file; accepted()/rejected() results are
    byte-identical."""
    import os

    docs = _docs(spark)
    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    for i in range(2):
        sink(docs.filter(F.col("doc_id") % 2 == i).repartition(4), i)
    want_acc = {tuple(r) for r in sink.accepted().collect()}
    want_rej = {tuple(r) for r in sink.rejected().collect()}
    r = sink.compact()
    assert r["files_after"] < r["files_before"]
    assert {tuple(x) for x in sink.accepted().collect()} == want_acc
    assert {tuple(x) for x in sink.rejected().collect()} == want_rej
    for name in ("accept", "reject"):
        (gen,) = os.listdir(os.path.join(sink.base_dir, name))
        files = os.listdir(os.path.join(sink.base_dir, name, gen))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, files


def test_gate_sink_read_past_the_listing_threshold_lists_no_job(
    spark, tmp_path, listing_threshold, job_descriptions
):
    """accepted() over more batch generations than Spark's
    parallel-listing threshold lists them on the driver: no job runs
    before its action, and every committed batch's rows come back."""
    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    n = listing_threshold + 2
    for b in range(n):
        sink._write_batch(
            b,
            spark.createDataFrame([(b, f"doc {b}")], "doc_id LONG, text STRING"),
            spark.createDataFrame(
                [(100 + b, "short")], "doc_id LONG, reject_reason STRING"
            ),
        )
    acc, jobs = job_descriptions(sink.accepted)
    assert jobs == []
    assert sorted(tuple(r) for r in acc.collect()) == [
        (b, f"doc {b}") for b in range(n)
    ]


def test_null_text_doc_is_rejected_not_dropped(spark, tmp_path):
    """A NULL-text doc must land in reject with a reason — never
    silently vanish from the accept/reject partition (the explode
    inside the gopher rules would drop it without the coalesce)."""
    docs = spark.createDataFrame(
        [(1, None), (2, "some words here")],
        "doc_id LONG, text STRING",
    )
    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    sink(docs, 0)
    acc = sink.accepted()
    rej = {(r["doc_id"], r["reject_reason"]) for r in sink.rejected().collect()}
    n_acc = acc.count() if acc is not None else 0
    assert n_acc + len(rej) == 2
    assert any(d == 1 and "gopher" in rr for d, rr in rej)


def test_gate_sink_under_structured_streaming(spark, tmp_path):
    """The sink driven by a REAL readStream/foreachBatch/availableNow
    pipeline (not direct calls): drained output must equal the batch
    gate over the same files."""
    from pyspark.sql import types as T

    docs = _docs(spark).limit(60)
    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(drop)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(drop)

    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    stream = (
        spark.readStream.schema(
            T.StructType.fromDDL("doc_id LONG, text STRING")
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    want_keep = {
        r["doc_id"]
        for r in quality_gate(docs).filter("keep").collect()
    }
    got_keep = {r["doc_id"] for r in sink.accepted().collect()}
    assert got_keep == want_keep
    n_rej = sink.rejected().count()
    assert len(got_keep) + n_rej == docs.count()


def test_redelivery_after_compaction_stays_correct(spark, tmp_path):
    """foreachBatch may redeliver a batch AFTER maintenance compacted
    its dir; the overwrite rewrites it (uncompacted again — fine) and
    results must be unchanged."""
    docs = _docs(spark)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    sink = CorpusQualityGateSink(spark, str(tmp_path / "gate"))
    sink(b0.repartition(4), 0)
    sink(b1.repartition(4), 1)
    want = {tuple(r) for r in sink.accepted().collect()}
    sink.compact()
    sink(b0.repartition(4), 0)  # redelivery post-compaction
    assert {tuple(r) for r in sink.accepted().collect()} == want


def test_train_quality_model_learns_a_separable_corpus(spark):
    """Batch logistic regression over hashed token features: on a
    linearly separable fixture (spam tokens vs ham tokens) the loss
    must fall monotonically-ish and the trained weights must classify
    the training docs perfectly through apply_quality_model — which
    shares the exact featurization, so train->apply composes."""
    from warp_pipe_spark.datapipe.text import (
        apply_quality_model,
        train_quality_model,
    )

    rows = []
    for i in range(20):
        rows.append((i, "good clean prose words here", 1))
        rows.append((100 + i, "buy spam casino pills now", 0))
    labeled = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, label INT"
    )
    w, hist = train_quality_model(labeled, dims=64, iters=6, lr=1.0)
    assert len(hist) == 6
    assert hist[-1][1] < hist[0][1]  # loss decreased
    out = {
        r["doc_id"]: r["keep"]
        for r in apply_quality_model(labeled, w).collect()
    }
    assert all(out[i] for i in range(20))
    assert not any(out[100 + i] for i in range(20))


def test_apply_quality_model_plan_broadcasts_weights(spark):
    """The apply path must stay one corpus groupBy + a broadcast join
    — no SortMergeJoin, no dims-sized literal in the plan."""
    import numpy as np

    from warp_pipe_spark.datapipe.text import apply_quality_model

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id LONG, text STRING"
    )
    df = apply_quality_model(docs, np.ones(64))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_logistic_loss_is_finite_at_extreme_scores(spark):
    """The epoch-loss expression must stay finite where F.exp
    overflows (|s| > 709): softplus form, exact vs math.log1p at
    moderate s, asymptotically max(s,0) − s·label at extreme s."""
    import math

    from warp_pipe_spark.datapipe.text import logistic_loss

    df = spark.createDataFrame(
        [(1e4, 1.0), (1e4, 0.0), (-1e4, 1.0), (-1e4, 0.0),
         (2.5, 1.0), (-2.5, 0.0), (0.0, 1.0)],
        "s DOUBLE, label DOUBLE",
    )
    got = {
        (r["s"], r["label"]): r["ll"]
        for r in df.select(
            "s", "label",
            logistic_loss(F.col("s"), F.col("label")).alias("ll"),
        ).collect()
    }
    assert all(math.isfinite(v) for v in got.values())
    # a confident wrong answer costs |s|, a confident right one ~0
    assert got[(1e4, 0.0)] == 1e4 and got[(-1e4, 1.0)] == 1e4
    assert got[(1e4, 1.0)] == 0.0 and got[(-1e4, 0.0)] == 0.0
    assert abs(got[(2.5, 1.0)] - math.log1p(math.exp(-2.5))) < 1e-12
    assert abs(got[(-2.5, 0.0)] - math.log1p(math.exp(-2.5))) < 1e-12
    assert abs(got[(0.0, 1.0)] - math.log(2.0)) < 1e-12


def test_dsir_gate_sink_under_structured_streaming(spark, tmp_path):
    """DsirGateSink: the frozen-index DSIR gate driven by a REAL
    readStream/foreachBatch/availableNow pipeline must converge to the
    batch dsir_score_indexed threshold split over the same files, and
    accept/reject must partition the stream."""
    from pyspark.sql import types as T

    from warp_pipe_spark.datapipe.ingest import DsirGateSink
    from warp_pipe_spark.datapipe.sampling import (
        build_dsir_index,
        dsir_score_indexed,
    )

    docs = _docs(spark)
    target = read_table(spark, SF, "documents").filter(
        "source = 'src0'"
    ).select("doc_id", "text")
    idx = str(tmp_path / "dsir_idx")
    build_dsir_index(docs, target, idx, n_buckets=512)

    # pick a threshold that splits the corpus nontrivially: the median
    scores = sorted(
        r["logw_micro"]
        for r in dsir_score_indexed(spark, docs, idx).collect()
    )
    thr = scores[len(scores) // 2]

    drop = str(tmp_path / "drop")
    for i in range(2):
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(drop)

    sink = DsirGateSink(spark, str(tmp_path / "gate"), idx, thr)
    stream = (
        spark.readStream.schema(
            T.StructType.fromDDL("doc_id LONG, text STRING")
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    want_keep = {
        r["doc_id"]
        for r in dsir_score_indexed(spark, docs, idx)
        .filter(F.col("logw_micro") >= thr)
        .collect()
    }
    got_keep = {r["doc_id"] for r in sink.accepted().collect()}
    assert got_keep == want_keep
    assert 0 < len(got_keep) < docs.count()
    rej = {
        (r["doc_id"], r["logw_micro"]) for r in sink.rejected().collect()
    }
    assert len(rej) + len(got_keep) == docs.count()
    assert all(lw < thr for _, lw in rej)

    # redelivery idempotence: direct re-call of batch 0 rewrites
    # byte-identical content
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    assert {r["doc_id"] for r in sink.accepted().collect()} == got_keep


def test_bloom_gate_sink_under_structured_streaming(spark, tmp_path):
    """BloomGateSink: the frozen-bitmap bloom gate driven by a REAL
    readStream/foreachBatch/availableNow pipeline. Reference = the
    odd doc_ids; the stream carries ALL docs in two micro-batches.
    Every reference key must land in reject/ (no false negatives
    through a stream), accept/ must contain no reference key, and
    accept ∪ reject must partition the stream. Redelivery of a batch
    id rewrites byte-identical content."""
    from pyspark.sql import types as T

    from warp_pipe_spark.datapipe.bloom import bloom_gate, write_bloom
    from warp_pipe_spark.datapipe.ingest import BloomGateSink

    M, K = 1 << 14, 4
    docs = _docs(spark)
    ref = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("key")
    )
    idx = str(tmp_path / "bloom_idx")
    write_bloom(ref, idx, m_bits=M, k_hashes=K)

    drop = str(tmp_path / "drop")
    for i in range(2):
        docs.filter(F.col("doc_id") % 4 >= 2 * i).coalesce(1).write.mode(
            "append"
        ).parquet(drop)

    sink = BloomGateSink(spark, str(tmp_path / "gate"), idx)
    stream = (
        spark.readStream.schema(
            T.StructType.fromDDL("doc_id LONG, text STRING")
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    streamed = {
        r["doc_id"]
        for r in spark.read.parquet(drop).select("doc_id").collect()
    }
    ref_keys = {r["key"] for r in ref.collect()}
    acc = {r["doc_id"] for r in sink.accepted().collect()}
    rej = {r["doc_id"] for r in sink.rejected().collect()}
    assert acc | rej == streamed
    assert acc & rej == set()
    assert (ref_keys & streamed) <= rej  # no false negatives ever
    assert acc.isdisjoint(ref_keys)
    # the accept side is non-trivial (even ids minus fp), and the
    # streamed verdicts equal the batch gate's over the same frame
    assert len(acc) > 0
    want = {
        r["doc_id"]
        for r in bloom_gate(
            spark.read.parquet(drop).select(F.col("doc_id")),
            spark.read.parquet(idx + "/words"),
            key_col="doc_id",
            m_bits=M,
            k_hashes=K,
        )
        .filter(~F.col("maybe_member"))
        .collect()
    }
    assert acc == want

    # redelivery idempotence
    first = docs.filter(F.col("doc_id") % 4 >= 0)
    sink(first.select("doc_id", "text"), 0)
    assert {r["doc_id"] for r in sink.accepted().collect()} == acc
