"""CDC → corpus bridge: the changeset surface (capture/merge — the
reference's side of the repo) feeding the training-data surface
(persisted dedup/retrieval indexes) so corpus maintenance is O(batch):
CDC hands every micro-batch the exact DELTA for free, and every index
in the persisted family has an append-style update op. Runnable as:

    python examples/cdc_to_corpus_demo.py [sf_dir]

Flow:
  1. documents state v1 + three frozen artifacts over it: a bloom
     filter of its doc_ids (write_bloom), the incremental MinHash-LSH
     near-dup index (build_minhash_index), the inverted BM25 index
     (build_text_index).
  2. a CDC batch arrives as CHANGESETS: INSERTs (new docs) + UPDATEs
     (revised text for existing docs). merge_batch folds it into
     state v2 — the reference's A1-A3 apply semantics.
  3. index maintenance touches ONLY the delta:
       - bloom: the gate itself classifies the batch (novel vs
         already-seen) map-side, then update_bloom appends the novel
         keys (bits are pure-union state; append == rebuild is
         pytest-pinned);
       - MinHash: update_minhash_index appends the delta's bands and
         the index immediately serves near-dup candidates for it
         (an UPDATE leaves the old revision's bands behind — stale
         CANDIDATES, verified away downstream, never stale verdicts);
       - BM25: update_text_index appends the INSERTED docs' postings
         (df/tf are counts, not union state, so revised docs need
         delete+reinsert compaction — inserts append cleanly and the
         demo verifies indexed == fresh-rebuild scores over the
         grown corpus).
The full corpus is re-read zero times after step 1.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from warp_pipe_spark.apply import merge_batch
from warp_pipe_spark.datapipe.bloom import (
    bloom_gate_packed,
    read_bloom,
    update_bloom,
    write_bloom,
)
from warp_pipe_spark.datapipe.dedup_index import (
    build_minhash_index,
    query_minhash_index,
    update_minhash_index,
)
from warp_pipe_spark.datapipe.retrieval import (
    bm25_topk_indexed,
    build_text_index,
)
from warp_pipe_spark.io import read_table
from warp_pipe_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("cdc_to_corpus_demo", cpus=8, shuffle_partitions=8)
    work = tempfile.mkdtemp(prefix="wp_cdc_corpus_")

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = docs.filter(F.col("doc_id") % 10 != 0)
    n1 = v1.count()

    bloom_dir = os.path.join(work, "bloom")
    mh_dir = os.path.join(work, "mhidx")
    tidx_dir = os.path.join(work, "tidx")
    write_bloom(
        v1.select(F.col("doc_id").alias("key")), bloom_dir, m_bits=1 << 16
    )
    build_minhash_index(v1, mh_dir)
    build_text_index(v1, tidx_dir)
    print(f"state v1: {n1} docs; bloom + MinHash + BM25 indexes frozen")

    # -- the CDC batch: inserts + revisions, as changesets -------------
    inserts = docs.filter(F.col("doc_id") % 10 == 0)
    updates = v1.filter(F.col("doc_id") % 7 == 3).select(
        "doc_id", F.concat("text", F.lit(" revised edition")).alias("text")
    )
    cs = inserts.select(
        (F.col("doc_id") * 10).alias("id"),
        F.lit("INSERT").alias("action"),
        "doc_id",
        "text",
    ).unionByName(
        updates.select(
            (F.col("doc_id") * 10 + 5).alias("id"),
            F.lit("UPDATE").alias("action"),
            "doc_id",
            "text",
        )
    )
    n_ins, n_upd = inserts.count(), updates.count()
    print(f"CDC batch: {n_ins} INSERTs + {n_upd} UPDATEs as changesets")

    # -- reference apply semantics fold the delta into state v2 --------
    state_cs = v1.select(
        F.lit(0).alias("id"), F.lit("INSERT").alias("action"), "doc_id", "text"
    )
    v2 = merge_batch(state_cs, cs, ["doc_id"], table_col=None).select(
        "doc_id", "text"
    )
    n2 = v2.count()
    assert n2 == n1 + n_ins, (n1, n_ins, n2)
    revised = v2.join(updates.select("doc_id"), "doc_id", "left_semi").filter(
        F.col("text").endswith("revised edition")
    )
    assert revised.count() == n_upd
    print(f"state v2: {n2} docs (merge_batch; every revision applied)")

    # -- index maintenance from the DELTA only -------------------------
    delta = cs.select("doc_id", "text")
    words, m_bits, k_hashes = read_bloom(spark, bloom_dir)
    gated = bloom_gate_packed(
        delta, words, key_col="doc_id", m_bits=m_bits, k_hashes=k_hashes
    )
    novel = gated.filter(~F.col("maybe_member")).select(
        F.col("doc_id").alias("key")
    )
    n_novel = novel.count()
    print(
        f"bloom gate on the delta: {n_novel} novel / "
        f"{n_ins + n_upd - n_novel} already-seen (map-side, zero shuffles)"
    )
    update_bloom(novel, bloom_dir, 0)
    words2, _, _ = read_bloom(spark, bloom_dir)
    still_novel = (
        bloom_gate_packed(
            delta, words2, key_col="doc_id", m_bits=m_bits, k_hashes=k_hashes
        )
        .filter(~F.col("maybe_member"))
        .count()
    )
    assert still_novel == 0, still_novel
    print("update_bloom: appended; the whole delta now reads already-seen")

    update_minhash_index(delta, mh_dir, 0)
    cands = query_minhash_index(spark, inserts, mh_dir).count()
    print(f"MinHash index: delta bands appended; {cands} near-dup "
          "candidates served for the inserted docs")

    # BM25: inserts append cleanly (df/tf are counts — revisions need
    # delete+reinsert compaction, deliberately not silent)
    from warp_pipe_spark.datapipe.retrieval import update_text_index

    update_text_index(inserts, tidx_dir, 0)
    grown = v1.unionByName(inserts)
    terms = ["the", "data", "pipeline"]
    fresh_dir = os.path.join(work, "tidx_fresh")
    build_text_index(grown, fresh_dir)
    a = [tuple(r) for r in bm25_topk_indexed(spark, tidx_dir, terms).collect()]
    b = [tuple(r) for r in bm25_topk_indexed(spark, fresh_dir, terms).collect()]
    assert a == b, (a, b)
    print("BM25 index: inserts appended; scores == fresh full rebuild")

    print("corpus re-reads after the initial build: 0")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
