"""Lexical retrieval over the `documents` table: BM25 scoring and
per-document TF-IDF top terms.

These are the ranking/feature half of a training-data pipeline's text
stack (the dedup/quality half lives in text.py / dedup.py): BM25 powers
"find documents like this query" curation sweeps, TF-IDF top-terms is
the classic cheap document descriptor for clustering / topic sampling.

Scale shape (both ops):
  * tokenization is an in-row Catalyst expression (split / filter /
    explode) — narrow, codegen'd, linear;
  * corpus statistics (document frequency, avg doc length) are tiny
    keyed/global aggregates with map-side partial aggregation — the
    hot-key concern of a stopword term is absorbed by partial agg
    because COUNT is algebraic;
  * the per-(doc, term) join back to corpus stats broadcasts (term
    vocabulary ≪ corpus; the BM25 path filters to the query's terms
    BEFORE the explode, so its exploded row count is |matching tokens|,
    not |all tokens|);
  * final top-k is TakeOrderedAndProject (BM25, global k) or a
    WindowGroupLimit-eligible per-doc rank (TF-IDF) — never a global
    sort of the corpus.

Determinism: only +,-,*,/ on doubles plus one ln() per term (rounded
to 6 decimals at the end); ties broken on ids. Cross-checked against
DuckDB by tools/oracle_check.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warp_pipe_spark.io import open_index, write_index


def _doc_tokens(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return docs.select("doc_id", F.size(toks).alias("dl"), toks.alias("toks"))


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Okapi BM25 (Robertson/Sparck Jones; the Lucene-default
    ln(1 + (N - df + .5)/(df + .5)) idf) of `query_terms` against every
    document; global top-k rows (score desc, doc_id asc).

    The query-term filter runs INSIDE the token array before explode,
    so the shuffled/exploded volume is only matching tokens. df and
    corpus stats are one-row / |terms|-row aggregates joined back by
    broadcast. Returns (doc_id, n_terms_hit, score).
    """
    tokd = _doc_tokens(docs)
    stats = tokd.agg(
        F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs")
    )
    hits = tokd.select(
        "doc_id",
        "dl",
        F.explode(F.filter("toks", lambda t: t.isin(*query_terms))).alias("term"),
    )
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    return _bm25_rank(tf, df_, stats, k1, b, top_k)


def _bm25_rank(
    tf: DataFrame, df_: DataFrame, stats: DataFrame, k1: float, b: float, top_k: int
) -> DataFrame:
    """The BM25 arithmetic and top-k of both bm25_topk paths, over
    (doc_id, dl, term, tf) postings, per-term df and the one-row
    (n_docs, avgdl) corpus stats."""
    scored = tf.join(F.broadcast(df_), "term").join(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (1.0 + k1)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    per_term = scored.select(
        "doc_id", "term", (idf * tf_part).alias("term_score")
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.round(F.sum("term_score"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )


def tfidf_top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-IDF (tf * ln(N/df)), ties broken
    alphabetically — the cheap document descriptor used for topic
    clustering and stratified corpus sampling.

    One explode → (doc, term) tf agg → term df agg joined back → per-doc
    rank. The df join is deliberately NOT hint-broadcast: the
    vocabulary scales with the corpus (a table that grows with the
    data is never broadcast-safe) — AQE broadcasts it while it is
    small and shuffle-joins on the term key at scale, where both sides
    already carry term-keyed partitioning from their aggregates. The
    rank window partitions by doc_id with a row_number()<=k filter,
    which Spark executes as WindowGroupLimit (per-partition top-k
    heap, no full sort of the posting set).
    Returns (doc_id, term, tf, df, tfidf, rank).
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def build_text_index(
    docs: DataFrame, path: str, n_term_buckets: int = 64
) -> None:
    """Persist an inverted BM25 index, the lexical member of the
    persisted-index family (IVF cells / MinHash bands / DSIR ratio
    table): `<path>/postings` holds (term, doc_id, tf, dl) partitioned
    BY TERM BUCKET (h32(term) % n_term_buckets), `<path>/df` the
    per-term document frequencies under the same partitioning, and
    `<path>/stats` the corpus aggregates. A query then reads ONLY its
    terms' bucket directories — the inverted-index "touch the posting
    lists, not the corpus" property realized as parquet partition
    pruning (the unqueried buckets are never file-listed, not merely
    filtered after a scan).

    Everything persisted is ADDITIVE — df rows are per-build counts
    summed at query time, stats rows are (n_docs, dl_sum, dl_cnt)
    partials — so `update_text_index` is pure parquet append: no
    read-merge-rewrite, no index downtime, the log-structured shape
    compaction tools already handle. The stats triple mirrors
    bm25_topk's exact arithmetic: n_docs = count(*) over ALL docs
    (NULL text included), avgdl = sum(dl)/count(dl) over tokenized
    rows only, so indexed and non-indexed scores agree bit-for-bit
    (pytest-pinned). n_term_buckets travels in the index manifest
    (io.write_index): a modulus that disagreed with the build would
    silently prune the WRONG partition dirs."""
    _write_text_index(docs, path, n_term_buckets, None)


def update_text_index(new_docs: DataFrame, path: str, batch_id: int) -> None:
    """Append ingest batch `batch_id` to a persisted text index:
    postings, df deltas and stats partials land as one generation of
    all three (io.write_index: an id at or below the manifest's mark is
    a no-op, so a redelivered batch is never counted twice; the
    additive layout makes the merge a query-time sum) — cost ∝ |batch|
    tokens, the corpus is never re-read, and the bucket modulus is the
    manifest's. The lexical twin of update_minhash_index /
    update_ivf_index. After many small appends, io.compact_index on
    each of postings, df and stats folds the generations into one file
    per bucket dir (pause appends while it runs)."""
    params, _ = open_index(new_docs.sparkSession, path, "bm25")
    _write_text_index(new_docs, path, params["n_term_buckets"], batch_id)


def _write_text_index(
    docs: DataFrame, path: str, n_term_buckets: int, batch_id: int | None
):
    from warp_pipe_spark.datapipe.text import h32

    tokd = _doc_tokens(docs)
    stats = tokd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
        F.count("dl").alias("dl_cnt"),
    )
    posts = (
        tokd.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("tbucket", h32(F.col("term")) % n_term_buckets)
    )
    df_ = posts.groupBy("tbucket", "term").agg(F.count(F.lit(1)).alias("df"))
    parts = ("tbucket",)
    datasets = {"postings": (posts, parts), "df": (df_, parts), "stats": (stats, ())}
    write_index(path, "bm25", {"n_term_buckets": n_term_buckets}, datasets, batch_id)


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 top-k served FROM the persisted index: the query's term
    buckets are computed driver-side (a pure hash of the query — no
    data job), the postings/df scans carry literal tbucket partition
    filters (unqueried bucket dirs never file-listed, pinned in
    tests), and the scoring replays bm25_topk's exact arithmetic over
    the summed additive stats — identical output to the non-indexed
    path over the same corpus (pytest-pinned), at I/O cost
    ∝ |query's posting lists| instead of |corpus|. The bucket modulus
    and the schemas come from the index manifest: no Spark job runs
    before the caller's action."""
    from warp_pipe_spark.datapipe.text import h32_py

    if not query_terms:
        return spark.createDataFrame(
            [], "doc_id long, n_terms_hit long, score double"
        )
    params, read = open_index(spark, path, "bm25")
    bks = sorted({h32_py(t) % params["n_term_buckets"] for t in query_terms})
    post = read("postings", "tbucket", bks).filter(F.col("term").isin(query_terms))
    df_ = (
        read("df", "tbucket", bks)
        .filter(F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = read("stats").agg(
        F.sum("n_docs").alias("n_docs"),
        (
            F.sum("dl_sum").cast("double") / F.sum("dl_cnt").cast("double")
        ).alias("avgdl"),
    )
    return _bm25_rank(post, df_, stats, k1, b, top_k)
