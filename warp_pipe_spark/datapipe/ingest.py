"""Streaming corpus ingest: the document-quality gate as a foreachBatch
sink — the text-cleaning twin of IngestDedupSink (content near-dup) and
the CDC apply sinks (row identity).

A pre-training data pipeline runs its per-document gates (repetition /
quality rules, classifier score, PII redaction) at INGEST time, not as
a batch afterthought — rejecting early is what keeps the 100 TB corpus
from being written twice. Every gate here is deliberately per-document
(no corpus-level statistics), which is what makes the streaming fold
EXACT: the accepted set after N micro-batches equals the batch
computation over the union of those batches, row for row — pinned by
the convergence test in tests/test_dedup.py and oracle-compared via the
`docs_quality_gate` batch twin.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warp_pipe_spark.datapipe.text import (
    gopher_rules,
    pii_scrub,
    quality_model_score,
)
from warp_pipe_spark.io import INDEX_MANIFEST, append_batch, compact_index, open_index


def quality_gate(docs: DataFrame) -> DataFrame:
    """Per-document accept/reject verdict combining the Gopher
    repetition/quality rules and the hashed-linear classifier score:
    (doc_id, gopher_keep, model_keep, keep, reject_reason) with
    reject_reason the comma-joined failed gate names ('' when kept).

    Both inputs are per-doc computations (gopher: one explode + two
    keyed aggs; model: zero-shuffle fold), joined on doc_id — no
    corpus-level state, so the verdict for a document is identical
    whether it arrives in a micro-batch or a full-corpus scan.

    NULL text is coalesced to '' up front: without it the explode
    inside gopher DROPS the row and the doc silently leaves the
    accept/reject partition (neither routed nor counted). Empty text
    then fails the min-words rule and lands in reject with a reason —
    every input doc is accounted for, for ANY input."""
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    g = gopher_rules(docs).select("doc_id", F.col("keep").alias("gopher_keep"))
    m = quality_model_score(docs).select(
        "doc_id", F.col("keep").alias("model_keep")
    )
    j = g.join(m, "doc_id")
    reason = F.concat_ws(
        ",",
        F.when(~F.col("gopher_keep"), F.lit("gopher")),
        F.when(~F.col("model_keep"), F.lit("model")),
    )
    return j.select(
        "doc_id",
        "gopher_keep",
        "model_keep",
        (F.col("gopher_keep") & F.col("model_keep")).alias("keep"),
        reason.alias("reject_reason"),
    )


class CorpusQualityGateSink:
    """foreachBatch target: gate each micro-batch of raw documents,
    PII-scrub the survivors, and route accept/reject to parquet.

    Layout: a `gate` ledger (io.write_index) at `base_dir` with two
    datasets: `accept` holds the scrubbed accepted docs (full doc schema
    + per-category PII counts), `reject` holds (doc_id, reject_reason)
    for audit. A batch commits both as one generation through one
    manifest publish (io.append_batch), so a crash anywhere leaves the
    batch wholly visible or wholly invisible, and under Structured
    Streaming's at-least-once foreachBatch contract a redelivered batch
    (id ≤ the ledger's mark) is skipped — idempotent with no marker
    file. A fresh checkpoint needs a fresh `base_dir`, as for
    Spark's file sink.

    Scale shape: gate + scrub are the per-doc map/agg stages of their
    underlying operators — per-batch cost is O(batch), no state reads,
    no corpus joins. At 100 TB of ingest this is the shape that keeps
    up: the only shuffle is gopher's word aggregation inside each
    micro-batch."""

    def __init__(self, spark: SparkSession, base_dir: str) -> None:
        self.spark = spark
        self.base_dir = base_dir

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        # persist both inputs for the two write jobs: without it the
        # accept write materializes the full gate plan (gopher explode
        # + two keyed aggs + model fold) and the reject write then
        # re-executes the identical plan from a re-read of the source —
        # the batch's dominant shuffle paid twice (same discipline as
        # ParquetStateSink.apply_batch / KeysetPoller.poll_once)
        batch = batch.persist()
        gate = quality_gate(batch).persist()
        try:
            accepted = batch.join(
                gate.filter("keep").select("doc_id"), "doc_id", "left_semi"
            )
            self._write_batch(
                batch_id,
                pii_scrub(accepted),
                gate.filter(~F.col("keep")).select("doc_id", "reject_reason"),
            )
        finally:
            gate.unpersist()
            batch.unpersist()

    def _write_batch(
        self, batch_id: int, accept: DataFrame, reject: DataFrame
    ) -> None:
        """Commit batch_id's accept and reject rows: the ledger every
        gate sink shares."""
        datasets = {"accept": (accept, ()), "reject": (reject, ())}
        append_batch(self.base_dir, "gate", datasets, batch_id)

    def _read(self, name: str) -> DataFrame | None:
        if not os.path.exists(os.path.join(self.base_dir, INDEX_MANIFEST)):
            return None
        return open_index(self.spark, self.base_dir, "gate")[1](name)

    def accepted(self) -> DataFrame | None:
        """All accepted (scrubbed) docs across committed batches."""
        return self._read("accept")

    def rejected(self) -> DataFrame | None:
        """All rejected (doc_id, reject_reason) across batches."""
        return self._read("reject")

    def compact(self) -> dict[str, int]:
        """Small-file maintenance: fold each dataset's batch generations
        into one file (io.compact_index; a micro-batch on local[32]
        writes up to 32). Results are unchanged, and a redelivered
        batch is still skipped by the mark. Returns total
        {"files_before", "files_after"}."""
        totals = {"files_before": 0, "files_after": 0}
        for name in ("accept", "reject"):
            r = compact_index(self.spark, self.base_dir, "gate", name)
            totals["files_before"] += r["files_before"]
            totals["files_after"] += r["files_after"]
        return totals


class DsirGateSink(CorpusQualityGateSink):
    """foreachBatch target: score each micro-batch against a FROZEN
    DSIR ratio table (build_dsir_index, built batch-side once) and
    route docs with logw_micro >= min_logw_micro to accept/, the rest
    to reject/ with their score for audit — "keep what looks like the
    target" as an ingest gate, the DSIR analogue of the quality-gate
    sink (same ledger, same skip-on-redelivery contract, same
    accepted()/rejected()/compact() surface inherited unchanged).

    The index is opened ONCE at construction, from its manifest and
    with no Spark job; per-batch cost is one batch explode, one
    broadcast join against the ≤n_buckets table, one batch-keyed
    aggregate — O(batch), no state reads, no corpus joins."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        index_path: str,
        min_logw_micro: int,
    ) -> None:
        super().__init__(spark, base_dir)
        self.min_logw_micro = int(min_logw_micro)
        params, read = open_index(spark, index_path, "dsir")
        self._ratio, self._n_buckets = read("ratio"), params["n_buckets"]

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from warp_pipe_spark.datapipe.sampling import dsir_score_against

        # persist both: scored feeds the accept semi-join AND the
        # reject projection — without it the batch explode + broadcast
        # join + aggregate runs twice per micro-batch
        batch = batch.persist()
        scored = dsir_score_against(
            batch, self._ratio, self._n_buckets
        ).persist()
        try:
            keep = scored.filter(F.col("logw_micro") >= self.min_logw_micro)
            self._write_batch(
                batch_id,
                batch.join(keep.select("doc_id"), "doc_id", "left_semi"),
                scored.filter(F.col("logw_micro") < self.min_logw_micro),
            )
        finally:
            scored.unpersist()
            batch.unpersist()


class BloomGateSink(CorpusQualityGateSink):
    """foreachBatch target: probe each micro-batch against a FROZEN
    bloom filter of already-ingested keys (datapipe.bloom) and route
    NOVEL docs to accept/, flagged candidate-duplicates to reject/
    with their key for the downstream exact-verify — URL/fingerprint
    ingest dedup as a streaming gate (same ledger and skip-on-
    redelivery contract as the quality and DSIR gates;
    accepted()/rejected()/compact() inherited unchanged).

    The index is a write_bloom directory — m_bits/k_hashes travel
    WITH it in its manifest (re-supplied parameters that disagreed
    with the build would silently false-negative). The
    packed word table is materialized into the m_bits/8-byte numpy
    bitmap and broadcast ONCE at construction — a long-lived tail
    must not re-read the index parquet, rebuild the bitmap, or leak
    one broadcast per micro-batch. Per-batch cost is a map-side
    numpy probe: ZERO joins, zero shuffles, O(batch) regardless of
    how many billion keys the filter summarizes (bloom.py plan pin).
    No false negatives by construction, so accept/ provably contains
    no already-seen key; false positives land in reject/ and are
    recoverable there by the exact verify (bloom_gate_verified) —
    the gate never silently drops novel data, it quarantines it."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        index_path: str,
        key_col: str = "doc_id",
    ) -> None:
        from warp_pipe_spark.datapipe.bloom import packed_bitmap, read_bloom

        super().__init__(spark, base_dir)
        words, self.m_bits, self.k_hashes = read_bloom(spark, index_path)
        self.key_col = key_col
        self._bc = spark.sparkContext.broadcast(
            packed_bitmap(words, self.m_bits)
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from warp_pipe_spark.datapipe.bloom import bloom_gate_packed

        # persist the probed frame: it feeds both the accept and the
        # reject write; without it the mapInPandas probe runs twice
        gated = bloom_gate_packed(
            batch,
            self._bc,
            key_col=self.key_col,
            m_bits=self.m_bits,
            k_hashes=self.k_hashes,
        ).persist()
        try:
            self._write_batch(
                batch_id,
                gated.filter(~F.col("maybe_member")).drop("maybe_member"),
                gated.filter(F.col("maybe_member")).select(self.key_col),
            )
        finally:
            gated.unpersist()
