"""End-to-end training-data pipeline demo — the LLM-corpus side of the
engine, composed from the datapipe operators. Runnable as:

    python examples/corpus_pipeline_demo.py [sf_dir]

Stages (each one a driver query too — see __spark_entry__.queries()):
  1. quality + language annotation        (text.quality_scores, lang_id)
  2. exact dedup                          (dedup.exact_dedup)
  3. near-dup candidates → clusters       (minhash_lsh_pairs →
                                           connected_components_star)
  4. keep one doc per cluster, filter     (cluster rep = min doc_id)
  5. deterministic train/val hash split   (h32(doc_id) % 10)
  6. corpus mix report per source         (docs_source_mix shape)

Everything is DataFrame-declared: the whole pass is a handful of
shuffles (token index, cluster loop, final aggregates) regardless of
corpus size, and the split/cluster decisions are hash-deterministic so
a 100 TB rerun reproduces byte-identical membership.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from warp_pipe_spark.datapipe.dedup import (
    connected_components_star,
    exact_dedup,
    minhash_lsh_pairs,
)
from warp_pipe_spark.datapipe.text import h32, lang_id, quality_scores
from warp_pipe_spark.io import read_table
from warp_pipe_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("corpus_demo", cpus=8, shuffle_partitions=8)
    docs = read_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. annotate
    annotated = (
        docs.join(quality_scores(docs).select("doc_id", "quality_score"), "doc_id")
        .join(lang_id(docs).select("doc_id", "pred_lang"), "doc_id")
    )

    # 2. exact dedup: keep the canonical (min doc_id) copy per text hash
    keep_exact = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    surviving = annotated.join(keep_exact, "doc_id", "left_semi")

    # 3./4. near-dup clusters: keep only each cluster's representative
    clusters = connected_components_star(minhash_lsh_pairs(docs))
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    surviving = surviving.join(losers, "doc_id", "left_anti")

    # quality gate (heuristic score + the hashed-linear classifier)
    from warp_pipe_spark.datapipe.text import pii_scrub, quality_model_score

    model_keep = quality_model_score(docs).filter("keep").select("doc_id")
    surviving = surviving.filter(F.col("quality_score") >= 0.6).join(
        model_keep, "doc_id", "left_semi"
    )

    # PII scrub the survivors before anything is written
    surviving = pii_scrub(surviving)

    # 5. deterministic split
    split = F.when(h32(F.col("doc_id").cast("string")) % 10 == 0, "val").otherwise(
        "train"
    )
    final = surviving.withColumn("split", split)

    # 6. mix report
    report = (
        final.groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality_score"), 3).alias("avg_quality"),
        )
        .orderBy("source", "split")
    )

    n1 = final.count()
    print(f"corpus: {n0} docs in -> {n1} kept "
          f"({n0 - n1} removed: exact dups, near-dup cluster members, low quality)")
    for r in report.collect():
        print(f"  {r.source:<12} {r.split:<6} n={r.n_docs:<6} avg_quality={r.avg_quality}")

    # 7. materialize retrieval chunks (sliding 512/384) from the kept set
    from warp_pipe_spark.datapipe.sampling import chunk_texts_overlap

    n_chunks = chunk_texts_overlap(
        final.select("doc_id", "text"), chunk_tokens=512, stride=384, n_shards=4
    ).count()
    print(f"retrieval chunks (512/384 sliding): {n_chunks}")

    got = {r.split for r in final.select("split").distinct().collect()}
    assert got <= {"train", "val"} and n1 > 0 and n_chunks > 0
    print("corpus pipeline demo OK")


if __name__ == "__main__":
    main()
