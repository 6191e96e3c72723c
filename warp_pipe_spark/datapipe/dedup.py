"""Deduplication operators over the `documents` / `embeddings` tables:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design: every op is expressed as explode → keyed aggregation →
(band-)join, the canonical shuffle-bounded shapes that survive 100 TB:
  - exact dedup: one hash groupBy (map-side partial agg).
  - MinHash: one explode + ONE groupBy computing all k min-hashes
    (k aggregates in a single pass), then an equi-join on band keys —
    never an all-pairs product.
  - SimHash: explode tokens ×32 bit positions → two keyed aggs.
  - n-gram Jaccard: candidate pairs only from shared shingles
    (inverted-index self-join), never O(n²).
  - embedding near-dup: all-pairs only below a block threshold;
    the scale path is LSH band-join (random-hyperplane signatures).

Hashes all derive from md5 so the DuckDB oracle replays them exactly
(h32(s) = first 8 md5 hex chars as int).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from warp_pipe_spark.datapipe.text import h32, h60, shingles
from warp_pipe_spark.io import explode_nonnull

# MinHash universal-hash params: h_j(x) = (A[j]*x + B[j]) mod P.
# P = 2^31-1 (Mersenne prime); A odd primes < 2^30 so A*x < 2^62.
MINHASH_P = 2147483647
MINHASH_A = (769, 12289, 786433, 50331653, 201326611, 805306457, 402653189, 100663319)
MINHASH_B = tuple(7919 * (j + 1) for j in range(8))
N_BANDS = 4  # 4 bands × 2 rows per band over the k=8 signature


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: keep the lowest doc_id per distinct
    text. Output one row per distinct content: (keep_id, text_md5,
    dup_count). Single hash groupBy — the 100 TB shape."""
    return (
        docs.select(F.col("doc_id"), F.md5("text").alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
        .select("keep_id", "text_md5", "dup_count")
    )


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """k=8 MinHash signature per doc: (doc_id, mh0..mh7).

    ZERO shuffles: shingling, hashing, and all eight mins happen
    doc-locally in one array fold (`aggregate` carrying the running
    8-way min vector), so the hashed-shingle array is evaluated exactly
    once per row — 8 separate array_min(transform(...)) projections
    would re-evaluate it per signature column after Catalyst collapses
    the projects. The row count never leaves |docs|; at 100 TB this is
    a pure map stage, embarrassingly parallel over input splits."""
    hs = F.transform(F.array_distinct(shingles(F.col("text"), n)), lambda s: h32(s))
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * len(MINHASH_A))
    fold = F.aggregate(
        hs,
        init,
        lambda acc, h: F.array(
            *[
                F.least(acc[j], (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
                for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
            ]
        ),
    )
    sig = docs.select("doc_id", fold.alias("sig"))
    return sig.select(
        "doc_id", *[F.col("sig")[j].alias(f"mh{j}") for j in range(len(MINHASH_A))]
    )


def drop_hot_buckets(
    df: DataFrame, bucket_cols: Sequence[str], max_bucket: int
) -> DataFrame:
    """Remove all rows of buckets larger than `max_bucket` BEFORE any
    per-bucket list is built. The hot-bucket set is found with a
    streaming count (map-side partial, no arrays) and removed with an
    anti-join — filtering after a collect_list would still buffer the
    full hot list in one aggregation task, which is exactly the
    failure this guard exists to prevent. The hot set is small by
    construction (≤ total_rows / max_bucket keys), so AQE typically
    broadcasts it."""
    hot = (
        df.groupBy(*bucket_cols)
        .agg(F.count("*").alias("_bucket_n"))
        .filter(F.col("_bucket_n") > max_bucket)
        .select(*bucket_cols)
    )
    return df.join(hot, list(bucket_cols), "left_anti")


def bucket_pairs(
    df: DataFrame,
    bucket_cols: Sequence[str],
    id_col: str,
    a_name: str,
    b_name: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (a < b) id pairs co-occurring in any bucket.

    One shuffle keyed by the bucket, pairs emitted inside each posting
    list — half the exchanges of a self-equi-join on the bucket key,
    which shuffles the exploded table twice. Bucket skew is the scale
    hazard either way; callers bound bucket sizes by construction
    (band width / shingle rarity). `max_bucket` is the backstop for
    when construction fails (a degenerate band key shared corpus-wide
    would otherwise build one giant array and emit O(D²) pairs):
    oversized buckets are dropped whole via a streaming pre-count, so
    no task ever materializes the hot list."""
    if max_bucket is not None:
        df = drop_hot_buckets(df, bucket_cols, max_bucket)
    buckets = (
        df.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda b: F.struct(a.alias(a_name), b.alias(b_name)),
            ),
        )
    )
    return (
        explode_nonnull(buckets, pair_arr, "p")
        .select(F.col(f"p.{a_name}").alias(a_name), F.col(f"p.{b_name}").alias(b_name))
        .distinct()
    )


def band_rows(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, band, key) LSH banding rows: the minhash signature cut
    into N_BANDS 2-row bands, each band's values concatenated into a
    string key. The shared primitive behind in-memory pair emission
    (minhash_lsh_pairs) and the persisted incremental index
    (dedup_index.build_minhash_index)."""
    sig = minhash_signatures(docs, n)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")
                        ).alias("key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def minhash_lsh_pairs(
    docs: DataFrame, n: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """LSH banding: docs sharing any (band, band-key) are candidate
    duplicate pairs. Returns (doc_a, doc_b) with doc_a < doc_b.
    `max_bucket` guards against degenerate band keys (e.g. a corpus
    where one boilerplate signature dominates) — see bucket_pairs."""
    return bucket_pairs(
        band_rows(docs, n),
        ["band", "key"],
        "doc_id",
        "doc_a",
        "doc_b",
        max_bucket=max_bucket,
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash fingerprint per doc, weighted by token frequency.

    explode(tokens) → ONE groupBy(doc) computing all `bits` signed
    bit-sums as parallel aggregates (±1 per token OCCURRENCE) →
    assemble in a projection. The per-(doc, token) count
    pre-aggregation the r3-r14 shape paid is algebraically redundant —
    summing ±1 over every occurrence of a token equals summing ±count
    over its distinct row, bit by bit — so its exchange (which carried
    the token STRINGS) is gone: one doc-keyed shuffle total, and after
    map-side partial aggregation the exchange carries `bits` longs per
    (doc × map partition), no strings (r15; guide §2.3/§2.4 — 2
    Exchanges → 1). The trade is hashing per occurrence instead of per
    distinct (doc, token); md5 is codegen'd and the saved shuffle wins
    at every scale measured."""
    tok = explode_nonnull(docs, F.split("text", " "), "w").select(
        "doc_id", h32(F.col("w")).alias("h")
    )
    one = F.lit(1).cast("long")
    bit_aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {i}) & 1) = 1"), one).otherwise(-one)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    bitsums = tok.groupBy("doc_id").agg(*bit_aggs)
    assembled = sum(
        F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(bits)
    )
    return bitsums.select("doc_id", assembled.alias("simhash"))


def _hashed_shingle_arrays(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh_arr): the distinct n-gram shingles of `text`, each
    mapped through the 60-bit hash, distinct-BEFORE-hash. Both exact
    set-similarity paths (`_shingle_pair_counts` inverted index and
    `jaccard_pairs_prefix` AllPairs) build their sets through this one
    expression — their result-identical contract depends on the two
    sides hashing byte-equivalent arrays, so the construction must not
    be duplicated.

    io.fan_out first: shingling + per-shingle md5 multiplies the
    per-row work ~n_shingles×, and on a small single-split scan the
    whole transform would run on one core (no-op at real scale, where
    input splits provide the parallelism). Measured at sf0.1:
    clean_corpus_capped 5.9→4.0 s, containment 5.1→3.7 s, jaccard
    3.9→3.4 s warm."""
    from warp_pipe_spark.io import fan_out

    return fan_out(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.transform(
            F.array_distinct(shingles(F.col("text"), n)), lambda s: h60(s)
        ).alias("sh_arr"),
    )


def _shingle_pair_counts(
    docs: DataFrame,
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Shared core of the set-similarity family: distinct-shingle
    intersection counts per candidate pair off the inverted index.
    Returns (doc_a, doc_b, na, nb, inter) — Jaccard and containment
    are one projection away.

    `max_doc_freq` enables stop-shingles (Lee et al. 2021-style): a
    shingle shared by more than `max_doc_freq` documents is removed
    from the index — and from the Jaccard sets — before any posting
    list is built. Without the cap, one boilerplate shingle shared by
    D docs builds a D-element array in a single aggregation task and
    emits D²/2 pairs; at 100 TB boilerplate is guaranteed, so the
    production path always sets a cap. Semantics with the cap are the
    exact Jaccard over the FILTERED shingle sets (sizes recomputed
    post-filter), which the DuckDB oracle replays identically since
    the document-frequency cutoff is deterministic.
    """
    # inverted index keyed by the 60-bit shingle hash, not the string:
    # the exchange carries 8-byte longs instead of ~25-byte text (~3x
    # fewer shuffle bytes at 100 TB). The oracle hashes identically, so
    # results match exactly even in the (negligible) collision case.
    arr = _hashed_shingle_arrays(docs, n)
    # each posting carries the doc's distinct-shingle count alongside the
    # id (one extra long per shuffle row), so the union sizes ride the
    # posting lists all the way to the pair aggregate: NO sizes table, no
    # per-doc join of any kind afterwards. (The previous shape broadcast
    # a one-row-per-document sizes table — a table that scales with the
    # corpus is never broadcast-safe.)
    if max_doc_freq is not None:
        # stop-shingle pre-filter: hot shingles leave the index via a
        # streaming count + anti-join (never via a post-collect slice,
        # which would still buffer the hot list). Set sizes are then
        # recomputed over the kept shingles so Jaccard stays exact for
        # the filtered sets; the doc_id-keyed size join happens before
        # postings are built, so nothing downstream changes shape.
        kept = drop_hot_buckets(
            explode_nonnull(arr, F.col("sh_arr"), "shingle").select(
                "doc_id", "shingle"
            ),
            ["shingle"],
            max_doc_freq,
        )
        # post-filter set sizes via a doc_id window, not groupBy+join:
        # the join shape consumed `kept` twice (the aggregate AND the
        # probe side), re-executing the scan+tokenize+shingle+md5
        # subtree — Catalyst reuses nothing across the two (r15
        # measured: md5 appears 4x in the physical plan, 0
        # ReusedExchange). The window computes the same exact count
        # inside the one doc_id exchange the size attachment needs
        # anyway; per-doc groups are document-length-bounded, so the
        # window buffer is as safe as the per-doc shingle arrays. At
        # cluster scale this also deletes the join the sizes table
        # stops being broadcastable for.
        sh = kept.select(
            "doc_id",
            F.count("*").over(W.partitionBy("doc_id")).alias("n_sh"),
            "shingle",
        )
    else:
        sh = explode_nonnull(
            arr.withColumn("n_sh", F.size("sh_arr")),
            F.col("sh_arr"),
            "shingle",
        ).select("doc_id", "n_sh", "shingle")
    # ONE shuffle keyed by shingle hash, then emit the i<j doc pairs
    # inside each posting list — half the exchanges of the equivalent
    # self-join (which shuffles the exploded table twice). sort_array on
    # (doc_id, n_sh) structs orders by doc_id, preserving i<j pairing.
    buckets = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("docs"),
            lambda a, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size("docs")),
                lambda b: F.struct(
                    a["doc_id"].alias("doc_a"),
                    a["n_sh"].alias("na"),
                    b["doc_id"].alias("doc_b"),
                    b["n_sh"].alias("nb"),
                ),
            ),
        )
    )
    # na/nb are functionally dependent on doc_a/doc_b, so folding them
    # into the grouping key adds no groups.
    inter = (
        explode_nonnull(buckets, pair_arr, "p")
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.na").alias("na"),
            F.col("p.nb").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return inter


#: Default stop-shingle cap for the pair family. A shingle shared by
#: more than this many documents is boilerplate, not signal — and each
#: one costs O(doc_freq²) candidate pairs, which at 100 TB turns a
#: single hot shingle into a JVM-OOM (measured: the uncapped index is
#: 26–39× at the 100× probe and OOMs on the hot-key probe; SCALE.md).
#: Callers that need the EXACT uncapped measure (offline recall eval,
#: oracle ground truth) opt out explicitly with ``max_doc_freq=None``.
DEFAULT_MAX_DOC_FREQ = 1000

#: Enforced input bound for UNCAPPED (``max_doc_freq=None``) calls into
#: the pair family. The uncapped inverted index is quadratic in the
#: hottest shingle's document frequency, and at corpus scale
#: boilerplate makes a corpus-wide hot shingle a certainty — so the
#: uncapped measure is a SAMPLE-PARTITION operation by contract
#: (offline recall evals, oracle ground truth on audit samples). The
#: document count is the enforceable proxy for that contract: it
#: upper-bounds every posting list (df(s) <= n_docs) and therefore the
#: pair blow-up, and checking it costs one bounded limit() probe.
#: Mirrors `embedding_near_dup_pairs`' enforced max_rows — the
#: analogous all-pairs path — rather than a docstring-only promise.
UNCAPPED_MAX_DOCS = 100_000


def _require_sample_bounded(
    docs: DataFrame, max_rows: int | None, what: str
) -> None:
    """Raise when an uncapped-semantics input exceeds the sample-
    partition bound. The probe is limit(max_rows+1).count() — rejecting
    a 10^9-row input must not itself pay a full-corpus count."""
    if max_rows is None:
        return
    if docs.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"{what} with max_doc_freq=None is the uncapped exact "
            f"measure — quadratic in the hottest shingle's document "
            f"frequency — and is bounded to sample partitions of at "
            f"most max_rows={max_rows} documents. For corpus-scale "
            f"inputs use the capped index (max_doc_freq=), the prefix-"
            f"filtered engine (jaccard_pairs_prefix, thresholds >= 0.5) "
            f"or MinHash-LSH; pass a larger max_rows (or max_rows=None) "
            f"only for an explicitly bounded audit block"
        )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.01,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    max_rows: int | None = UNCAPPED_MAX_DOCS,
) -> DataFrame:
    """Exact n-gram Jaccard over inverted-index candidate pairs:
    J = |A∩B| / (|A|+|B|-|A∩B|). Output (doc_a, doc_b, inter,
    jaccard). See _shingle_pair_counts for the index shape and the
    stop-shingle cap semantics.

    The default cap (DEFAULT_MAX_DOC_FREQ) makes the production path
    boilerplate-safe out of the box; pass ``max_doc_freq=None`` for
    the exact uncapped measure (eval ground truth only — it is
    quadratic in the hottest shingle's document frequency). The
    uncapped path is ENFORCED to sample-partition inputs: more than
    `max_rows` documents raise (see UNCAPPED_MAX_DOCS) instead of
    building an unbounded posting index; `max_rows` is ignored when a
    cap is set, since the cap already bounds every posting list."""
    if max_doc_freq is None:
        _require_sample_bounded(docs, max_rows, "ngram_jaccard_pairs")
    inter = _shingle_pair_counts(docs, n, max_doc_freq)
    j = inter.withColumn(
        "jaccard",
        F.round(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
            6,
        ),
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "inter", "jaccard"
    )


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    max_rows: int | None = UNCAPPED_MAX_DOCS,
) -> DataFrame:
    """ASYMMETRIC set containment over the same inverted index:
    c(A⊂B) = |A∩B| / |A| — the decontamination/quote-detection signal
    Jaccard misses (a 50-shingle doc fully embedded in a 5000-shingle
    doc has J ≈ 0.01 but containment 1.0; Lee et al.'s eval-overlap
    audits and FineWeb-style decontamination gate on exactly this).
    Emits pairs where EITHER direction clears `threshold`:
    (doc_a, doc_b, inter, cont_a_in_b, cont_b_in_a). Identical plan
    shape, stop-shingle cap, and uncapped sample-partition bound as
    ngram_jaccard_pairs — one extra projection, no new shuffle."""
    if max_doc_freq is None:
        _require_sample_bounded(docs, max_rows, "ngram_containment_pairs")
    inter = _shingle_pair_counts(docs, n, max_doc_freq)
    c = inter.select(
        "doc_a",
        "doc_b",
        "inter",
        F.round(F.col("inter").cast("double") / F.col("na"), 6).alias(
            "cont_a_in_b"
        ),
        F.round(F.col("inter").cast("double") / F.col("nb"), 6).alias(
            "cont_b_in_a"
        ),
    )
    return c.filter(
        (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
    )


def jaccard_pairs_prefix(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """EXACT n-gram Jaccard pairs at high thresholds via prefix
    filtering (AllPairs — Bayardo, Ma & Srikant, WWW 2007; the prefix
    principle behind PPJoin, Xiao et al., WWW 2008): result-identical
    to ``ngram_jaccard_pairs(threshold=t, max_doc_freq=None)``, but the
    inverted index holds only each document's PREFIX — its
    ``|X| - ceil(t*|X|) + 1`` globally rarest shingles under one
    corpus-wide (doc_freq, hash) total order.

    Completeness: J(A,B) >= t forces |A∩B| >= ceil(t*max(|A|,|B|)) =: α
    (because J <= |smaller|/|larger|, so |A| >= t*|B| and the
    intersection bound I >= t*(|A|+|B|)/(1+t) >= t*max follows), and
    two sets sharing α elements under a common total order must collide
    within their first ``|X| - α + 1`` elements (if the prefixes were
    disjoint, every shared element would sit in one side's (α-1)-long
    suffix). The stored prefixes are at least that long, so every
    qualifying pair surfaces as a candidate; candidates are then
    verified with the exact intersection (``array_intersect`` over the
    full hashed-shingle arrays), so there are no false positives.

    Candidates additionally pass PPJoin's POSITIONAL filter (Xiao et
    al., WWW 2008) before the verification join: for each pair, take
    the common prefix token with the MINIMAL rank (i, j) in the two
    documents' canonical orders. No common token can precede it — a
    common token earlier in the total order would sit before position
    i <= plen_a in A and before j <= plen_b in B, i.e. inside BOTH
    prefixes, contradicting minimality — so the attainable overlap is
    at most ``1 + min(|A| - i, |B| - j)``. Pairs whose bound cannot
    reach the threshold's required intersection ``t·(|A|+|B|)/(1+t)``
    (from J = I/(|A|+|B|-I) >= t solved for I, monotonic in J) are
    pruned while still prefix-sized, before the full shingle arrays
    are ever shipped. Because both per-doc ranks increase together
    along the shared total order, ``min(i)`` and ``min(j)`` are
    attained at the same token, so one groupBy — replacing the plain
    candidate de-dup, same shuffle — computes the filter.

    Why this is the scale shape for the EVAL/ground-truth side (which
    must stay uncapped): hot boilerplate shingles have the highest
    doc_freq, sort LAST in the canonical order, and therefore never
    enter any prefix — the posting-list blowup the stop-shingle cap
    guards against cannot occur here, with ZERO recall loss. The cost
    moves to verification, which is O(candidates × doc length) — small
    at high thresholds. Intended for t >= 0.5; at low thresholds the
    prefix approaches the whole document and degenerates (correctly)
    to the full index, where the capped path is the right tool.

    Shuffles: posting explode + doc-frequency agg, one per-doc rank
    window, the prefix self-join, and the two doc_id equi-joins that
    carry the full arrays to surviving candidates only."""
    from pyspark.sql.window import Window

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    arr = _hashed_shingle_arrays(docs, n).withColumn(
        "n_sh", F.size("sh_arr").cast("long")
    )
    # The final filter (matching ngram_jaccard_pairs exactly) passes
    # round(J, 6) >= t, so a pair with TRUE Jaccard in [t - 5e-7, t)
    # still belongs in the result. All pruning bounds are therefore
    # derived from t_eff = t - 1e-6 — strictly below anything that can
    # round up to t — so candidate generation is complete for every
    # pair the verification step would keep, not just for true-J >= t.
    t_eff = max(threshold - 1e-6, 1e-12)
    ex = explode_nonnull(arr, F.col("sh_arr"), "s").select(
        "doc_id", "n_sh", "s"
    )
    freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    # canonical total order: ascending corpus doc_freq, hash tiebreak —
    # identical for every document, which the completeness proof needs
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = ex.join(freq, "s").withColumn("rnk", F.row_number().over(w))
    # the 1e-9 guards float noise in t*|X| at exact integers: ceil may
    # only err DOWNWARD, which lengthens the prefix (always safe)
    plen = F.col("n_sh") - F.ceil(F.col("n_sh") * t_eff - 1e-9) + 1
    prefix = ranked.filter(F.col("rnk") <= plen).select(
        "doc_id", "n_sh", "s", "rnk"
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size pruning (J >= t_eff forces t_eff*|B| <= |A| and vice
            # versa); epsilon so integer-exact boundaries never drop to
            # float noise
            & (F.col("a.n_sh") + 1e-6 >= F.col("b.n_sh") * t_eff)
            & (F.col("b.n_sh") + 1e-6 >= F.col("a.n_sh") * t_eff),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        # na/nb ride the grouping as aggregates (functionally dependent
        # on the doc ids); min(rnk_a)/min(rnk_b) land on the SAME token
        # — the pair's first common prefix token — because both ranks
        # increase together along the shared canonical order.
        .agg(
            F.first(F.col("a.n_sh")).alias("na_p"),
            F.first(F.col("b.n_sh")).alias("nb_p"),
            F.min(F.col("a.rnk")).alias("min_ra"),
            F.min(F.col("b.rnk")).alias("min_rb"),
        )
        # positional filter: overlap <= 1 + min(|A|-i, |B|-j) (no
        # common token precedes the minimal common prefix token — see
        # docstring); required overlap for round(J,6) >= t is
        # t_eff*(na+nb)/(1+t_eff), epsilon-guarded like the other
        # bounds so integer-exact boundaries never prune on float noise
        .filter(
            F.lit(1)
            + F.least(
                F.col("na_p") - F.col("min_ra"),
                F.col("nb_p") - F.col("min_rb"),
            )
            + 1e-6
            >= (F.col("na_p") + F.col("nb_p")) * t_eff / (1.0 + t_eff)
        )
        .select("doc_a", "doc_b")
    )
    va = arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_arr").alias("arr_a"),
        F.col("n_sh").alias("na"),
    )
    vb = arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_arr").alias("arr_b"),
        F.col("n_sh").alias("nb"),
    )
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def _cast_double(vec: F.Column) -> F.Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _star_fingerprint(e: DataFrame):
    """(count, 60-bit pair-hash sum) — an order-free set fingerprint."""
    h = h60(F.concat_ws("_", F.col("u"), F.col("v")))
    return e.agg(
        F.count("*").alias("n"), F.sum(h.cast("decimal(38,0)")).alias("s")
    ).first()


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components over an undirected candidate-pair edge list
    — the cluster-assignment step of corpus dedup ("keep one doc per
    near-dup cluster"). Output (doc_id, cluster_id) with cluster_id =
    min doc_id in the component; only nodes that appear in a pair are
    returned (singletons are their own trivial cluster).

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). This is
    the package's one CC implementation: label propagation would need
    one round per graph-diameter hop, fine for near-dup blobs
    (diameter ≈ 2) but adversarial for chain-shaped graphs
    (transcript-like corpora where doc i overlaps only doc i±1:
    diameter = corpus length). Star contraction converges in O(log²)
    rounds on ANY topology:

      large-star: every node points its LARGER neighbors at the min of
        its neighborhood ∪ itself   (per-edge emission off a groupBy
        min — no collect_list, so a 10^8-degree hub costs one keyed
        min, not one array)
      small-star: every node points its smaller-or-equal neighbors and
        itself at the min of its smaller neighborhood

    Each round is two keyed aggregations + joins on the edge list; the
    edge list is localCheckpoint-ed per round (O(1) plan depth). At the
    fixpoint every component is a star centered at its min node, and
    the edge list IS the label assignment.
    """
    edges = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    prev_fp = _star_fingerprint(edges)
    for _ in range(max_iter):
        s = sym(edges)
        # large-star: m(u) = min(neighborhood(u) ∪ {u}); (x, m) for x > u
        mins = s.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn")).alias("m")
        large = (
            s.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), m.alias("b"))
        )
        # small-star over the large-star output: m⁻(u) = min smaller
        # neighbor; (x, m⁻) for smaller x ≠ m⁻, plus (u, m⁻)
        ls = large.select(
            F.least("a", "b").alias("u2"), F.greatest("a", "b").alias("v2")
        ).filter(F.col("u2") != F.col("v2"))
        smaller = ls.select(F.col("v2").alias("u"), F.col("u2").alias("v"))
        smins = smaller.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            smaller.join(smins, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("a"), F.col("mn").alias("b"))
            .union(smins.select(F.col("u").alias("a"), F.col("mn").alias("b")))
        )
        new_edges = (
            small.select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint probe: two DISTINCT sets are equal iff their
        # (count, sum of 60-bit pair hashes) fingerprints match — ONE
        # tiny map-side-combined aggregate per round (the previous
        # round's fingerprint is cached) instead of two exceptAll
        # shuffles, which dominated round cost. A false-equal needs
        # colliding 60-bit sums over equal-size DIFFERING sets
        # (~2⁻⁶⁰/round); the consequence would be returning a non-star
        # edge set, i.e. corrupt labels — accepted as negligible
        # against the per-round exceptAll cost it replaces.
        new_fp = _star_fingerprint(new_edges)
        if new_fp == prev_fp:
            edges = new_edges
            break
        edges, prev_fp = new_edges, new_fp
    else:
        # a non-star edge set would emit intermediate nodes twice with
        # conflicting labels — fail LOUD, never return corrupt clusters
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds; "
            "raise max_iter (O(log² n) rounds suffice for any graph)"
        )

    centers = edges.select(F.col("u").alias("doc_id"), F.col("u").alias("cluster_id"))
    members = edges.select(F.col("v").alias("doc_id"), F.col("u").alias("cluster_id"))
    return members.union(centers).distinct()


def _arrow_list_matrix(arr) -> "np.ndarray | None":
    """pyarrow list column → (n, d) float64 matrix for the vectorized
    similarity kernels. Fast path (r14): a null-free fixed-width
    ListArray's cells all live in ONE contiguous values buffer, so the
    matrix is a reshape of that buffer — zero per-row work. (The
    per-row np.asarray+np.stack conversion this replaces was ~98% of
    cosine_v's Python time: the einsum over 500k×64 rows costs ~27 ms,
    building its input the old way ~2 s.) Returns None when the fast
    path doesn't apply (nulls, ragged widths) — callers fall back to
    the per-row conversion, which produces the identical matrix."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count or not isinstance(
        arr, (pa.ListArray, pa.LargeListArray)
    ):
        return None
    off = np.asarray(arr.offsets)
    if len(off) < 2:
        return None
    widths = np.diff(off)
    if not (widths == widths[0]).all() or widths[0] == 0:
        return None
    vals = np.asarray(arr.values, dtype=np.float64)
    return vals[off[0]:off[-1]].reshape(len(widths), int(widths[0]))


def cosine_v(a: F.Column, b: F.Column) -> F.Column:
    """Arrow-vectorized cosine: one float64 einsum per batch instead of
    three interpreted aggregate/zip_with folds per row (~6·dim lambda
    invocations). Numerically it differs from the oracles' sequential
    DuckDB fold (`_COS_SQL` in __spark_entry__.py, the reference) only
    in float64 summation ASSOCIATION (pairwise vs sequential), a ~1e-16
    relative wobble; scores are rounded to 6 decimals (`_cos6`), and the
    verified margin to the nearest rounding boundary on the test corpora
    is >700× wider.

    r14: Arrow-native UDF — batches arrive as pyarrow arrays and the
    (n, d) matrices are zero-copy reshapes of the list buffers
    (_arrow_list_matrix) instead of per-row np.asarray+np.stack, which
    was ~98% of the UDF's time. Same einsum, same dtype, same per-row
    reduction order → bit-identical values (verified over the full
    920k-row sf0.1 candidate set against the pandas form)."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import DoubleType

    @arrow_udf(DoubleType())
    def cos_udf(ea, eb):
        import pyarrow as pa

        A = _arrow_list_matrix(ea)
        B = _arrow_list_matrix(eb)
        if A is None or B is None:
            # ragged/null cells: per-row conversion, identical matrix
            rows_a = [np.asarray(v, dtype=np.float64) for v in ea.to_pandas()]
            rows_b = [np.asarray(v, dtype=np.float64) for v in eb.to_pandas()]
            if not rows_a:
                return pa.array([], type=pa.float64())
            A, B = np.stack(rows_a), np.stack(rows_b)
        dot = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        return pa.array(dot / (na * nb), type=pa.float64())

    return cos_udf(a, b)


def _scorable(vectors: DataFrame) -> DataFrame:
    """The similarity universe: the rows of a (vec_id, embedding) frame
    whose id and vector are set and whose vector has a nonzero
    component. Cosine is undefined for a NULL or zero-norm vector, and
    its NaN would rank above every real neighbor (Spark orders NaN
    above any double) and pass every `>= threshold` verdict, so every
    cosine entry point applies this to each of its vector inputs."""
    return vectors.filter(
        "vec_id IS NOT NULL AND embedding IS NOT NULL"
        " AND exists(embedding, x -> x != 0)"
    )


def _cos6(a: F.Column, b: F.Column) -> F.Column:
    """The score every cosine path ranks and thresholds on: cosine_v
    rounded HALF_UP to 6 places, as the DuckDB oracles round it."""
    return F.round(cosine_v(a, b), 6)


def _pair_cosine(
    pairs: DataFrame,
    vectors: DataFrame,
    a: str,
    b: str,
    b_vectors: DataFrame | None = None,
) -> DataFrame:
    """`pairs` plus `cos_sim`, the rounded cosine of the vectors of its
    id columns `a` and `b`. The vectors come from `vectors` (vec_id,
    embedding), or from `b_vectors` for `b`, and attach by an inner
    join on `a`, then one on `b`, so a pair naming an id outside the
    frames drops out."""
    va = vectors.select(F.col("vec_id").alias(a), F.col("embedding").alias("_va"))
    vb = (vectors if b_vectors is None else b_vectors).select(
        F.col("vec_id").alias(b), F.col("embedding").alias("_vb")
    )
    return (
        pairs.join(va, a)
        .join(vb, b)
        .select(*pairs.columns, _cos6(F.col("_va"), F.col("_vb")).alias("cos_sim"))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    max_rows: int = 200_000,
    n_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: pairs with cos ≥ threshold.

    This is the exact (all-pairs) variant for BOUNDED inputs — the
    O(n²) baseline that verifies the LSH path's recall. The bound is
    enforced, not advisory: inputs beyond `max_rows` raise instead of
    launching a quadratic join that would run for weeks at corpus
    scale. The scale path is `similarity.hyperplane_lsh_pairs`
    (band-join on sign signatures) with cosine verification on
    candidates only (`dedup_embedding_lsh`).

    Execution is BLOCKED GEMM, not a per-pair join: vectors group into
    B hash blocks, the B(B+1)/2 unordered block pairs fan out as rows,
    and each task computes its block-pair similarity matrix as one
    float64 numpy matmul. The row-pair formulation this replaced
    shipped every vector n times through Arrow (~2 GB for 2k vectors —
    it WAS the cost, 9 s of serialization around 0.5 GFLOP of math);
    blocking ships each vector B times (~2 MB) and turns the compute
    into L3-resident GEMM. Same O(n²) math, so the max_rows bound
    stays; B defaults to ~n/512 capped at 32 (one task wave per 16
    block pairs at local[32] — scale B with cluster parallelism). A
    caller RAISING max_rows for a large bounded block should raise
    n_blocks with it (~n/8192 keeps each collect_list'd block a few
    MB); the default cap is sized for the enforced 200k bound.

    The numpy side prefilters at threshold − 1e-6 and the exact
    verdict — F.round(cos, 6) >= threshold, HALF_UP like the previous
    implementation and the DuckDB oracle — is applied JVM-side, so
    banker's-rounding np.round never decides a boundary.
    """
    # Block assignment is F.pmod(vec_id, n_blocks): a string/float
    # vec_id would die in pmod's analysis with an opaque cast error,
    # so reject it here where the message can say what to do (the
    # write_webdataset id-type discipline, VERDICT r12 item 3).
    id_type = embeddings.schema["vec_id"].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long"):
        raise ValueError(
            f"embedding_near_dup_pairs requires an integral vec_id "
            f"('vec_id' is {id_type}); blocking hashes vec_id with pmod "
            "— cast or renumber ids first"
        )
    # bounded probe: limit(max_rows+1) stops scanning once the bound is
    # exceeded — the rejection of a 10^9-row input must not itself pay
    # a full-corpus count
    n = embeddings.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"all-pairs cosine input exceeds max_rows={max_rows} "
            f"(O(n²) pairs); use similarity.hyperplane_lsh_pairs + cosine "
            "verify for corpus-scale inputs, or raise max_rows explicitly "
            "for a bounded block"
        )
    if n_blocks is None:
        n_blocks = max(1, min(32, -(-n // 512)))
    # the similarity universe: a None would crash the whole block's
    # numpy stack, and a zero-norm row would score NaN
    blocks = (
        _scorable(embeddings)
        .select(
            "vec_id",
            "embedding",
            F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"),
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vs"))
    )
    a = blocks.select(
        F.col("blk").alias("blk_a"), F.col("vs").alias("vs_a")
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"), F.col("vs").alias("vs_b")
    )
    block_pairs = a.join(b, F.col("blk_a") <= F.col("blk_b"))
    prefilter = threshold - 1e-6

    def gemm(batches):
        for pdf in batches:
            out: list[pd.DataFrame] = []
            for blk_a, blk_b, va, vb in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["vs_a"], pdf["vs_b"]
            ):
                ids_a = np.asarray([r["vec_id"] for r in va], dtype=np.int64)
                ids_b = np.asarray([r["vec_id"] for r in vb], dtype=np.int64)
                A = np.stack(
                    [np.asarray(r["embedding"], dtype=np.float64) for r in va]
                )
                B = np.stack(
                    [np.asarray(r["embedding"], dtype=np.float64) for r in vb]
                )
                # dot / (|a|·|b|): the same arithmetic shape as the
                # per-pair einsum this replaced. Zero-norm rows were
                # filtered JVM-side above, so no nan reaches the
                # prefilter (the errstate guard stays for the
                # float-underflow corner of near-zero norms)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = A @ B.T / np.outer(
                        np.linalg.norm(A, axis=1),
                        np.linalg.norm(B, axis=1),
                    )
                mask = sims >= prefilter
                # same-block pair: the matrix holds (x,y) AND (y,x) —
                # keep the strict upper triangle by id so each
                # unordered pair is emitted exactly once (cross-block
                # pairs appear in exactly one block-pair row already)
                if blk_a == blk_b:
                    mask &= ids_a[:, None] < ids_b[None, :]
                ii, jj = np.nonzero(mask)
                if len(ii) == 0:
                    continue
                ia, ib = ids_a[ii], ids_b[jj]
                out.append(
                    pd.DataFrame(
                        {
                            "vec_a": np.minimum(ia, ib),
                            "vec_b": np.maximum(ia, ib),
                            "cos_raw": sims[ii, jj],
                        }
                    )
                )
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame(
                    {"vec_a": [], "vec_b": [], "cos_raw": []}
                ).astype(
                    {
                        "vec_a": "int64",
                        "vec_b": "int64",
                        "cos_raw": "float64",
                    }
                )
            )

    cand = block_pairs.mapInPandas(
        gemm, schema="vec_a LONG, vec_b LONG, cos_raw DOUBLE"
    )
    return cand.select(
        "vec_a",
        "vec_b",
        F.round(F.col("cos_raw"), 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination — the published training-corpus
    hygiene step (GPT-3 App. C / The Pile: drop any training document
    sharing at least one word 13-gram with an evaluation set, so the
    benchmark can't leak into training): returns (clean, flagged)
    where `flagged` is (doc_id, n_hits = how many distinct benchmark
    n-grams the doc shares) and `clean` is docs minus those ids.

    Both sides build their shingle sets through the SAME
    distinct-before-hash expression as the set-similarity family
    (_hashed_shingle_arrays), so the overlap test is exactly the
    n-gram machinery the Jaccard oracles verify. Benchmarks shorter
    than n tokens contribute their whole text as one shingle (the
    shingles() short-text rule), so tiny eval items still match
    verbatim copies.

    Plan shape at 100 TB: the benchmark side collapses to its DISTINCT
    n-gram hashes — eval suites are millions of n-grams at most, far
    under broadcast thresholds — and the docs side is one explode
    feeding a BROADCAST semi-join probe per shingle (zero shuffle of
    the corpus; the only exchange is the per-doc hit count, and the
    anti-join for `clean` reuses the same broadcast)."""
    bench_grams = F.broadcast(
        explode_nonnull(
            _hashed_shingle_arrays(
                benchmark.select(F.col("doc_id"), F.col("text")), n
            ),
            F.col("sh_arr"),
            "h",
        )
        .select("h")
        .distinct()
    )
    doc_grams = explode_nonnull(
        _hashed_shingle_arrays(docs, n), F.col("sh_arr"), "h"
    ).select("doc_id", "h")
    flagged = (
        doc_grams.join(bench_grams, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    clean = docs.join(flagged.select("doc_id"), "doc_id", "left_anti")
    return clean, flagged
