"""Persisted, incrementally-maintained MinHash-LSH index.

The batch dedup operators (dedup.minhash_lsh_pairs) recompute
signatures for the WHOLE corpus every run. At 100 TB the corpus is
append-mostly: each ingest batch is a sliver of the total, and
re-sharding a petabyte of postings to dedup a gigabyte of new
documents is the wrong plan. This module keeps the banding rows
(doc_id, band, key) in a parquet index partitioned by band:

  * build once over the existing corpus (one signature pass — the same
    linear cost the batch operator pays once);
  * `update` appends ONLY the new batch's banding rows (work ∝ batch,
    not corpus — parquet append into band partitions, no read-back,
    no compaction barrier);
  * `query` joins the batch's banding rows against the index on
    (band, key). The shuffle is keyed by bucket and sized by the
    BATCH's bucket membership; AQE broadcasts the batch side when it
    is small. Only buckets the batch touches contribute join output.

This mirrors the IVF persisted index (similarity.build_ivf_index) for
the text-near-dup modality: amortize the corpus-wide pass, pay
per-batch cost at ingest. The same `max_doc_freq`-style hygiene
applies: a degenerate band key shared corpus-wide makes its posting
list a hot join key — `query` takes `max_bucket` and drops oversized
index buckets with a streaming pre-count (never materializing them),
exactly like dedup.drop_hot_buckets.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warp_pipe_spark.datapipe.dedup import band_rows
from warp_pipe_spark.io import (
    committed_batch_dirs,
    n_parquet_files,
    open_index,
    rewrite_and_swap,
    settle_swap,
    write_index,
)


def build_minhash_index(docs: DataFrame, path: str) -> None:
    """Write the corpus banding rows partitioned by band (8 fixed
    partitions; within each, files accumulate per append batch),
    committed through the index manifest (io.write_index). The base
    corpus is tagged ingest_batch = -1; appends tag their batch id so
    queries can pin an as-of-batch view (replay determinism).

    A (re)build also clears the `_ingested` replay markers: they
    describe appends to the PREVIOUS index generation, and a streaming
    run restarted with a fresh checkpoint reuses batch ids from 0 — a
    stale marker would silently skip the new run's index appends, and
    every cross-batch pair involving those documents would be missing
    with no error anywhere."""
    shutil.rmtree(os.path.join(path, "_ingested"), ignore_errors=True)
    bands = band_rows(docs).withColumn("ingest_batch", F.lit(-1).cast("long"))
    write_index(path, "minhash", {}, {"bands": (bands, ("band",))})


def update_minhash_index(
    new_docs: DataFrame,
    path: str,
    ingest_batch: int = -1,
    rows: DataFrame | None = None,
) -> None:
    """Append one ingest batch's banding rows. Cost ∝ |batch|: one
    signature pass over the new docs, blind append into the band
    partitions — the existing index is never read or rewritten.
    `rows` passes precomputed band_rows(new_docs) (e.g. a persisted
    copy shared with the query side) so the signature fold is not
    recomputed."""
    bands = (rows if rows is not None else band_rows(new_docs)).withColumn(
        "ingest_batch", F.lit(ingest_batch).cast("long")
    )
    write_index(path, "minhash", {}, {"bands": (bands, ("band",))}, append=True)


def compact_minhash_index(spark: SparkSession, path: str) -> dict:
    """Rewrite the band partitions into one file each — the
    maintenance op that keeps the append-only design viable long-term.
    `update` is deliberately a blind append (cost ∝ batch, measured
    flat at 16x index in SCALE.md round 10), which means every ingest
    batch leaves one file set per band partition: after 10k
    micro-batches each band dir holds ~10k small files and the
    listing + footer overhead — not the data — starts to dominate
    `query`'s index scan. Same trade and same remedy as any
    append-optimized table (Delta OPTIMIZE, Iceberg rewrite_data_files);
    on a real cluster this op IS that command.

    Semantics are preserved exactly:
      - every (band, key, doc_id, ingest_batch) row survives, so
        `max_ingest_batch` as-of views — the replay-determinism
        contract — return byte-identical results after compaction;
      - EXACT duplicate rows are dropped: they exist only as
        append-then-crash replay residue (the marker's documented
        redelivery window re-appends a whole batch under the SAME
        ingest_batch tag), and every reader already neutralizes them
        (the pair output is distinct, the bucket cap counts distinct
        doc_ids) — removing them changes no result, it just stops
        paying their scan cost forever;
      - `_ingested` markers are untouched: they describe which batch
        ids are IN the index, which compaction does not change.

    Crash-safe: committed through io.rewrite_and_swap, with the
    compacted copy row-count verified inside its write step, so a copy
    that lost rows is discarded and the index left untouched. A crash
    in the swap is healed at the next call or the next IngestDedupSink
    batch. Requires the same exclusive access as build_minhash_index:
    pause ingest for the compaction.

    Returns {"rows_before", "rows_after", "files_before",
    "files_after"} so callers (and tests) can assert the effect."""
    bands = os.path.join(path, "bands")

    def write(tmp: str) -> dict:
        df = spark.read.parquet(bands)
        rows_before = df.count()
        files_before = n_parquet_files(bands)
        # repartition BY the partition column: each band lands wholly in
        # one shuffle partition, so partitionBy emits exactly one file
        # per band dir — the one shuffle is the price of the rewrite
        (
            df.dropDuplicates(["band", "key", "doc_id", "ingest_batch"])
            .repartition("band")
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(tmp)
        )
        rows_after = spark.read.parquet(tmp).count()
        dupes = (
            rows_before
            - df.select("band", "key", "doc_id", "ingest_batch").distinct().count()
        )
        if rows_after != rows_before - dupes:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compaction wrote {rows_after} rows, expected "
                f"{rows_before - dupes} ({rows_before} - {dupes} replay "
                "duplicates) — compacted copy discarded, index untouched"
            )
        return {
            "rows_before": rows_before,
            "rows_after": rows_after,
            "files_before": files_before,
        }

    stats = rewrite_and_swap(bands, write)
    return {**stats, "files_after": n_parquet_files(bands)}


def query_minhash_index(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    max_bucket: int | None = None,
    max_ingest_batch: int | None = None,
    rows: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup matches for `batch` against everything
    indexed so far (including the batch itself if it was `update`d):
    (query_id, match_id) distinct pairs, match_id != query_id.
    `max_ingest_batch` pins an as-of-batch view of the index (rows
    appended by later batches are excluded) — what makes a replayed
    micro-batch produce byte-identical output. `rows` passes
    precomputed band_rows(batch) (ideally persisted: the query plan
    uses the batch side twice — semi-join prune + final join — and a
    caller like IngestDedupSink shares the same rows with the index
    append, collapsing three signature folds into one).

    One equi-join on (band, key): the index side streams, the batch
    side is typically broadcast by AQE. `max_bucket` drops index
    buckets larger than the cap via a streaming count before the join
    (boilerplate band keys are noise for near-dup anyway — the same
    stop-shingle argument as dedup.ngram_jaccard_pairs)."""
    idx = open_index(spark, path, "minhash")[1]("bands")
    if max_ingest_batch is not None:
        idx = idx.filter(F.col("ingest_batch") <= max_ingest_batch)
    idx = idx.select("band", "key", F.col("doc_id").alias("match_id"))
    qb = (rows if rows is not None else band_rows(batch)).select(
        "band", "key", F.col("doc_id").alias("query_id")
    )
    # prune the index to buckets the BATCH touches before anything
    # else: the hot-bucket count and the match join then scan
    # |touched buckets| index rows, not the whole corpus index — the
    # semi-join's build side is the batch's distinct keys (small,
    # AQE-broadcast), so this is a map-side filter over the index scan
    idx = idx.join(
        qb.select("band", "key").distinct(), ["band", "key"], "left_semi"
    )
    if max_bucket is not None:
        # bucket size = DISTINCT docs per (band, key): an append-then-
        # crash replay leaves duplicated postings in the index forever
        # (the documented redelivery window), and a plain count would
        # see up to 2x the true size — silently dropping a legitimate
        # bucket in every future query. The final pair distinct absorbs
        # duplicate join output; the CAP must count true membership.
        hot = (
            idx.groupBy("band", "key")
            .agg(F.count_distinct("match_id").alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band", "key")
        )
        idx = idx.join(hot, ["band", "key"], "left_anti")
    return (
        qb.join(idx, ["band", "key"])
        .filter(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id")
        .distinct()
    )


class IngestDedupSink:
    """foreachBatch target for STREAMING document ingest: maintain the
    incremental index and emit each micro-batch's candidate near-dup
    pairs. The streaming twin of the CDC apply sinks — content
    (near-dup) dedup, where streaming.dedup_stream handles identity
    (redelivery) dedup.

    Per batch: append the batch's banding rows tagged with the batch
    id (update-then-query, so every cross-batch pair surfaces exactly
    when its LATER document arrives, and batch-internal pairs surface
    in both directions within their batch), then write the batch's
    candidates — computed against the as-of-this-batch index view —
    to `out_dir/batch_<id>`. Idempotent under Structured Streaming's
    at-least-once foreachBatch contract: the as-of view makes a
    replayed query byte-identical even after later batches landed, a
    marker per batch_id skips the index append on replay (a crash
    between append and marker merely duplicates one batch's postings,
    which the pair distinct absorbs and the count-distinct bucket cap
    ignores), and the candidate output is overwritten per batch_id,
    never appended. Markers are cleared by build_minhash_index, so a
    rebuilt index never skips appends for reused batch ids. On an
    `index_dir` with no index, the first batch builds an empty one
    (publishing its manifest) before its append."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        out_dir: str,
        max_bucket: int | None = None,
        auto_compact_files: int | None = 512,
    ) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self.out_dir = out_dir
        self.max_bucket = max_bucket
        # auto_compact_files (VERDICT r14 #6, guide §6): after a
        # batch's append+query, if the band partitions hold more than
        # this many parquet files, run compact_minhash_index inline —
        # the sink loop is the one place exclusive access is free
        # (batches are sequential), so long-lived ingest no longer
        # needs an external maintenance job to keep query's
        # listing+footer overhead bounded. The rewrite costs
        # O(index) once per ~(threshold / files-per-batch) batches;
        # size the threshold so that amortized cost stays below the
        # append cost for your corpus:batch ratio (512 ≈ tens of
        # batches of headroom at 8 bands × a handful of files per
        # append). None disables (pre-r15 behavior: compaction is the
        # caller's maintenance op). Compaction is result-invariant
        # (see compact_minhash_index) and runs AFTER the batch's
        # candidates are written, so a crash mid-compaction replays
        # into the recovery path, never into missing output.
        self.auto_compact_files = auto_compact_files

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.index_dir, "_ingested", f"batch_{batch_id}")

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        # an auto-compaction that crashed inside its swap left `bands`
        # missing: repair it before the marker check skips the append
        # and the query or the file-count threshold reads the void, and
        # delete the sidecar copy a heal (this one or a reader's) left
        if not settle_swap(os.path.join(self.index_dir, "bands")):
            build_minhash_index(batch.limit(0), self.index_dir)
        # ONE persisted signature pass per micro-batch: without it the
        # banding fold runs three times (index append + the query
        # plan's two uses of the batch side)
        rows = band_rows(batch).persist()
        try:
            marker = self._marker(batch_id)
            if not os.path.exists(marker):
                update_minhash_index(
                    batch, self.index_dir, ingest_batch=batch_id, rows=rows
                )
                os.makedirs(os.path.dirname(marker), exist_ok=True)
                with open(marker, "w") as f:
                    f.write("")
            query_minhash_index(
                self.spark,
                batch,
                self.index_dir,
                self.max_bucket,
                max_ingest_batch=batch_id,
                rows=rows,
            ).write.mode("overwrite").parquet(
                os.path.join(self.out_dir, f"batch_{batch_id}")
            )
        finally:
            rows.unpersist()
        if self.auto_compact_files is not None and (
            n_parquet_files(os.path.join(self.index_dir, "bands"))
            > self.auto_compact_files
        ):
            compact_minhash_index(self.spark, self.index_dir)

    def candidates(self) -> DataFrame | None:
        """All candidate pairs surfaced so far (one multi-path scan over
        io.committed_batch_dirs); None before the first committed
        batch."""
        dirs = committed_batch_dirs(self.out_dir)
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs).distinct()
