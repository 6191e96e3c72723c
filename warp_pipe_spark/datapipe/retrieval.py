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
    ranked = (
        per_term.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.round(F.sum("term_score"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )
    return ranked


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
    (pytest-pinned). n_term_buckets is PERSISTED on every stats row —
    queries and updates read it from the index instead of trusting a
    re-supplied parameter, because a modulus mismatch would silently
    prune the WRONG partition dirs (missing postings, no error)."""
    from warp_pipe_spark.datapipe.text import h32

    tokd = _doc_tokens(docs)
    stats = tokd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
        F.count("dl").alias("dl_cnt"),
    ).withColumn("n_term_buckets", F.lit(n_term_buckets).cast("long"))
    posts = (
        tokd.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("tbucket", h32(F.col("term")) % n_term_buckets)
    )
    posts.write.mode("overwrite").partitionBy("tbucket").parquet(
        path + "/postings"
    )
    (
        posts.groupBy("tbucket", "term")
        .agg(F.count(F.lit(1)).alias("df"))
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(path + "/df")
    )
    stats.write.mode("overwrite").parquet(path + "/stats")


def _index_n_buckets(spark, path: str) -> int:
    """The modulus the index was BUILT with, read from the persisted
    stats (one tiny parquet read, driver-side): every stats partial
    carries the same value by construction; a mixed set means someone
    appended with a different build — refuse loudly rather than prune
    the wrong dirs."""
    vals = [
        r["n_term_buckets"]
        for r in spark.read.parquet(path + "/stats")
        .select("n_term_buckets")
        .distinct()
        .collect()
    ]
    if len(vals) != 1:
        raise ValueError(
            f"text index at {path} carries inconsistent n_term_buckets "
            f"{sorted(vals)} — rebuild with build_text_index"
        )
    return int(vals[0])


def update_text_index(new_docs: DataFrame, path: str) -> None:
    """Append an ingest batch to a persisted text index: postings, df
    deltas, and stats partials all APPEND into place (the additive
    layout makes the merge a query-time sum) — cost ∝ |batch| tokens,
    the corpus is never re-read. The lexical twin of
    update_minhash_index / update_ivf_index. The bucket modulus comes
    from the index itself (_index_n_buckets) — an append can never
    write under a different partitioning than the build. After many
    small appends, io.compact_dataset on each of postings/, df/ and
    stats/ rewrites every bucket dir down to one file, committed
    through io.rewrite_and_swap (pause appends while it runs)."""
    from warp_pipe_spark.datapipe.text import h32

    n_term_buckets = _index_n_buckets(new_docs.sparkSession, path)
    tokd = _doc_tokens(new_docs)
    stats = tokd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
        F.count("dl").alias("dl_cnt"),
    ).withColumn("n_term_buckets", F.lit(n_term_buckets).cast("long"))
    posts = (
        tokd.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("tbucket", h32(F.col("term")) % n_term_buckets)
    )
    posts.write.mode("append").partitionBy("tbucket").parquet(
        path + "/postings"
    )
    (
        posts.groupBy("tbucket", "term")
        .agg(F.count(F.lit(1)).alias("df"))
        .write.mode("append")
        .partitionBy("tbucket")
        .parquet(path + "/df")
    )
    stats.write.mode("append").parquet(path + "/stats")


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
    is read from the index (one tiny stats read) — a caller-supplied
    value that disagreed with the build would silently prune the
    wrong dirs."""
    from warp_pipe_spark.datapipe.text import h32_py

    if not query_terms:
        return spark.createDataFrame(
            [], "doc_id long, n_terms_hit long, score double"
        )
    n_term_buckets = _index_n_buckets(spark, path)
    bks = sorted({h32_py(t) % n_term_buckets for t in query_terms})
    post = (
        spark.read.parquet(path + "/postings")
        .filter(F.col("tbucket").isin(bks))
        .filter(F.col("term").isin(query_terms))
    )
    df_ = (
        spark.read.parquet(path + "/df")
        .filter(F.col("tbucket").isin(bks))
        .filter(F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = spark.read.parquet(path + "/stats").agg(
        F.sum("n_docs").alias("n_docs"),
        (
            F.sum("dl_sum").cast("double") / F.sum("dl_cnt").cast("double")
        ).alias("avgdl"),
    )
    scored = post.join(F.broadcast(df_), "term").join(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
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
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(F.sum("term_score"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )
