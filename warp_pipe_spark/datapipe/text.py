"""Text analysis over the `documents` table: language-ID, quality
scoring, token counting, fingerprinting.

All pure Catalyst expressions (split / higher-order functions / md5 /
regexp) — zero Python in the data path, so each op is one narrow
codegen'd stage over the scan and parallelizes linearly at 100 TB.

Cross-engine determinism rules (these ops are oracle-checked against
DuckDB): only integer arithmetic, exact string ops, IEEE +,-,*,/ on
doubles, and md5 — no exp/log/locale-dependent ops; ratios rounded to 6
decimals at the end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warp_pipe_spark.io import explode_nonnull

# deterministic marker lexicons for the n-gram/marker language heuristic.
# Priority order (ties resolve in this order) is the dict order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "row", "table"),
    "de": ("group", "hash", "data"),
    "es": ("fast", "slow", "big"),
    "fr": ("join", "merge", "line"),
    "zh": ("window", "batch", "stream"),
}

STOPWORDS = ("a", "the")


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def _marker_score(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letters runs / digit runs / single other-chars)."""
    toks = _tokens(F.col("text"))
    bpe = F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("ws_tokens"),
        F.size(bpe).alias("bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("distinct_tokens"),
        F.length("text").alias("n_chars"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio heuristics.

    quality_score is a rational-arithmetic combination of exact
    indicator comparisons (no transcendental fns → bit-stable across
    engines)."""
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_punct = F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", ""))
    stop_ratio = F.round(n_stop.cast("double") / n_tok, 6)
    punct_ratio = F.round(n_punct.cast("double") / n_chars, 6)
    mean_tok_len = F.round(
        (n_chars - (n_tok - 1)).cast("double") / n_tok, 6
    )  # chars minus separators over tokens
    score = (
        F.when((n_tok >= 20) & (n_tok <= 1000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(stop_ratio <= 0.3, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(mean_tok_len >= 3.0, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        mean_tok_len.alias("mean_token_len"),
        F.round(score, 2).alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-lexicon language ID: per-language token-count scores,
    argmax with deterministic priority-order tie-break (CASE chain).

    Convention (deliberate, matching fasttext-style classifiers that
    always emit a label): a doc matching NO markers scores 0 for every
    language and the tie-break assigns the first lexicon language
    ('en') with score_en = 0. Consumers that need an unknown bucket
    gate on the score columns (pred_lang = 'en' AND score_en = 0 ⇔ no
    evidence); the oracle replays the identical convention."""
    toks = _tokens(F.col("text"))
    scores = {lang: _marker_score(toks, m) for lang, m in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = F.lit(None).cast("string")
    # build the CASE chain in reverse so earlier langs win ties
    for lg in reversed(langs):
        pred = F.when(scores[lg] == best, F.lit(lg)).otherwise(pred)
    sel = [F.col("doc_id")]
    sel += [scores[lg].alias(f"score_{lg}") for lg in langs]
    sel.append(pred.alias("pred_lang"))
    return docs.select(*sel)


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wl_micro: int = 3_000_000,
    max_mean_wl_micro: int = 10_000_000,
    max_top_word_frac_micro: int = 200_000,
    max_dup_2gram_frac_micro: int = 150_000,
) -> DataFrame:
    """Gopher-style repetition/quality rules (Rae et al. 2021 §A1.1),
    the standard pre-training corpus gate: word-count bounds, mean word
    length bounds, single-most-frequent-word dominance, duplicate
    2-gram mass. All ratios are emitted as exact MICRO-fractions
    (value·10⁶ by integer division) — pure integer arithmetic, so any
    engine replays them bit-for-bit and the keep/drop verdict can
    never flip on a float rounding boundary.

    One explode + two keyed aggregations per doc (word counts fold
    map-side); the 2-gram mass is computed scan-side with array
    functions and CARRIED THROUGH the exploded rows (two extra longs
    per shuffle row) — no per-doc join anywhere, the same
    ride-the-shuffle trick as ngram_jaccard's posting-list sizes. A
    join of two doc-count-sized tables would be the dominant shuffle
    at corpus scale. Linear at 100 TB, no Python.
    """
    toks = _tokens(F.col("text"))
    g2 = shingles(F.col("text"), 2)
    # Two selects, deliberately: expressions sharing a select with an
    # explode() land in a Project ABOVE the Generate and re-evaluate
    # per exploded row (~n_words× the work — measured 8× wall-clock on
    # this query). Splitting them forces the shingle stats into a
    # Project BELOW the Generate: computed once per doc, the two longs
    # then ride the replicated rows.
    pre = docs.select(
        "doc_id",
        F.size(g2).alias("n_2grams"),
        (F.size(g2) - F.size(F.array_distinct(g2))).alias("dup_2grams"),
        "text",
    )
    words = explode_nonnull(pre, toks, "w").select(
        "doc_id", "n_2grams", "dup_2grams", "w"
    )
    wc = words.groupBy("doc_id", "w").agg(
        F.count("*").alias("c"),
        F.first("n_2grams").alias("n_2grams"),
        F.first("dup_2grams").alias("dup_2grams"),
    )
    m = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct_words"),
        F.max("c").alias("top_word_count"),
        F.sum(F.col("c") * F.length("w")).alias("sum_word_len"),
        F.first("n_2grams").alias("n_2grams"),
        F.first("dup_2grams").alias("dup_2grams"),
    )
    # `div` = exact integer division on BIGINTs (DuckDB `//`) — no
    # double intermediate, so no precision cliff past 2^53
    mean_wl = F.expr("(sum_word_len * 1000000) div n_words")
    top_frac = F.expr("(top_word_count * 1000000) div n_words")
    dup_frac = F.expr("(dup_2grams * 1000000) div n_2grams")
    out = m.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        mean_wl.alias("mean_word_len_micro"),
        top_frac.alias("top_word_frac_micro"),
        dup_frac.alias("dup_2gram_frac_micro"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len_micro") >= min_mean_wl_micro)
        & (F.col("mean_word_len_micro") <= max_mean_wl_micro)
        & (F.col("top_word_frac_micro") <= max_top_word_frac_micro)
        & (F.col("dup_2gram_frac_micro") <= max_dup_2gram_frac_micro)
    )
    return out.withColumn("keep", keep)


# PII patterns, deliberately restricted to syntax RE2 (DuckDB) and
# java.util.regex (Spark) evaluate identically: character classes,
# bounded repetition, \b — no backrefs, no lookaround.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "[EMAIL]"),
    "phone": (r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
}


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """PII redaction — the compliance gate every pre-training corpus
    pass runs before anything else (emails/phones/IPs → typed
    placeholder tokens), with per-category match counts for audit
    reporting.

    Pure Catalyst regexp_count + chained regexp_replace: one narrow
    codegen'd map stage over the scan, zero shuffles, linear at 100 TB.
    Patterns apply in dict order, and each category is COUNTED on the
    text with all prior categories already replaced — exactly what its
    own replace then redacts — so sum(n_*) always equals the
    placeholders present in the output. (Counting on the original
    would tally matches an earlier pattern consumed, e.g. the ipv4
    inside 'user@1.2.3.4.com' that the email replace already removed.)
    An explicitly-empty patterns dict means scrub nothing; only None
    selects the defaults."""
    pats = PII_PATTERNS if patterns is None else patterns
    scrubbed = F.col(text_col)
    counts = []
    for name, (pat, repl) in pats.items():
        counts.append(F.regexp_count(scrubbed, F.lit(pat)).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    keep = [c for c in docs.columns if c != text_col]
    return docs.select(*keep, *counts, scrubbed.alias(text_col))


def unigram_lm(docs: DataFrame, rare_max_tf: int = 2) -> DataFrame:
    """Unigram corpus-frequency statistics per document — the
    integer-exact core of LM-perplexity-style quality filtering (a doc
    whose tokens are corpus-rare is boilerplate, OCR noise, or another
    language; CCNet/RedPajama gate on exactly this signal, via a real
    LM). Emitted as integers (sum/min of corpus term frequency, count
    of rare tokens) so the oracle replays bit-for-bit; a production
    scorer divides sum_tf by n_tokens or swaps in real log-probs
    downstream of the same join.

    Shape at scale: one explode → groupBy(token) corpus count
    (map-side combinable), join tokens back on token — AQE broadcasts
    the vocabulary when it is small and shuffle-joins otherwise —
    then one groupBy(doc_id). No collects, no Python."""
    toks = explode_nonnull(docs, _tokens(F.col("text")), "w").select(
        "doc_id", "w"
    )
    vocab = toks.groupBy("w").agg(F.count("*").alias("tf"))
    return (
        toks.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("tf").alias("sum_tf"),
            F.min("tf").alias("min_tf"),
            F.sum(
                F.when(F.col("tf") <= rare_max_tf, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_rare"),
        )
    )


def hash_embed(docs: DataFrame, dims: int = 8) -> DataFrame:
    """Hashing-trick text featurizer (signed feature hashing, Weinberger
    et al. 2009): an integer-exact `dims`-dimensional vector per doc,
    f_k = Σ_tokens sign_k(w) · tf(w), where sign_k(w) = ±1 from bit k
    of the token's 60-bit hash. The model-free text→vector bridge: its
    output feeds the same cosine/LSH/IVF/k-means machinery the
    `embeddings` table does, so a corpus without precomputed embeddings
    still gets the full similarity stack. All-integer sums → the oracle
    replays bit-for-bit with no float rounding contract at all.

    Shape: explode → (doc, token) tf agg → ONE groupBy(doc) computing
    all `dims` signed sums as parallel aggregates (the SimHash shuffle
    shape: exchange rows = distinct (doc, token) pairs, never ×dims).
    Returns (doc_id, f0..f{dims-1}) as LONGs."""
    tok = explode_nonnull(docs, _tokens(F.col("text")), "w").select(
        "doc_id", "w"
    )
    cnt = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    cnt = cnt.withColumn("h", h60(F.col("w")))
    aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {k}) & 1) = 1"), F.col("c")).otherwise(
                -F.col("c")
            )
        )
        .cast("long")
        .alias(f"f{k}")
        for k in range(dims)
    ]
    return cnt.groupBy("doc_id").agg(*aggs)


def unigram_logppl(docs: DataFrame) -> DataFrame:
    """Laplace-smoothed unigram log-perplexity per document — the real
    float score on top of unigram_lm's integer skeleton (CCNet/
    RedPajama gate on exactly this, via a KenLM model; the unigram
    version is the self-contained analog):

        lp(w)  = ln((tf(w) + 1) / (V + T))   V = corpus tokens,
                                             T = vocabulary size
        logppl = -mean over doc tokens of lp(w),  rounded to 6 dp

    Higher = more corpus-surprising = boilerplate/noise candidate.
    This module's no-transcendentals rule has one deliberate exception
    here (and in retrieval.py's BM25): a single ln per distinct token,
    with the result rounded to 6 dp — both engines' libm ln agree far
    inside that margin (empirically oracle-checked at two SFs).

    Shape: explode → vocab agg (map-side partial) → AQE-broadcast join
    back → one groupBy(doc_id). The V/T scalars ride a one-row
    broadcast. Returns (doc_id, n_tokens, logppl)."""
    toks = explode_nonnull(docs, _tokens(F.col("text")), "w").select(
        "doc_id", "w"
    )
    vocab = toks.groupBy("w").agg(F.count("*").alias("tf"))
    totals = vocab.agg(
        F.sum("tf").alias("v_tokens"), F.count("*").alias("t_types")
    )
    lp = F.log(
        (F.col("tf") + F.lit(1.0)) / (F.col("v_tokens") + F.col("t_types"))
    )
    return (
        toks.join(vocab, "w")
        .join(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(-F.sum(lp) / F.count("*"), 6).alias("logppl"),
        )
    )


def bigram_logppl(docs: DataFrame) -> DataFrame:
    """Laplace-smoothed BIGRAM log-perplexity per document — one
    conditioning step up from unigram_logppl (a KenLM-style filter's
    self-contained analog; word-order violations that a unigram model
    cannot see spike this score):

        lp(w₁w₂) = ln((C(w₁w₂) + 1) / (C(w₁) + T))   T = unigram types
        logppl   = −mean over doc bigrams of lp, rounded to 6 dp

    Shape: one explode per n-gram order → two corpus count aggs
    (map-side partial) → join the doc's bigram rows to both counts
    (the bigram's conditioning word rides the row as substring_index,
    no re-tokenize) → one groupBy(doc). The T scalar is a one-row
    broadcast. Same single-ln-per-distinct-term transcendental
    exception as unigram_logppl. Returns (doc_id, n_bigrams,
    logppl)."""
    bg = (
        explode_nonnull(docs, shingles(F.col("text"), 2), "bg").select(
            "doc_id", "bg"
        )
        # shingles' <n-token fallback emits the whole text; for a
        # 1-token doc that pseudo-"bigram" (no space) would get a
        # meaningless perplexity scored against itself AND inflate the
        # corpus bigram table for every short doc sharing the text.
        # A doc with no real bigram emits no row.
        .filter(F.instr(F.col("bg"), " ") > 0)
        .withColumn("w1", F.substring_index("bg", " ", 1))
    )
    bgc = bg.groupBy("bg").agg(F.count("*").alias("cbg"))
    toks = explode_nonnull(docs, _tokens(F.col("text")), "w").select("w")
    uni = toks.groupBy("w").agg(F.count("*").alias("cw"))
    totals = uni.agg(F.count("*").alias("t_types"))
    lp = F.log(
        (F.col("cbg") + F.lit(1.0)) / (F.col("cw") + F.col("t_types"))
    )
    return (
        bg.join(bgc, "bg")
        .join(uni, F.col("w1") == F.col("w"))
        .join(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(-F.sum(lp) / F.count("*"), 6).alias("logppl"),
        )
    )


def quality_model_score(docs: DataFrame, dims: int = 4096) -> DataFrame:
    """Model-based quality filtering — the fasttext-classifier step of
    GPT-3/LLaMA-style pipelines (Brown et al. 2020 §A; RedPajama's
    fasttext quality gate) — as pure classifier APPLICATION at scale:
    a linear model over hashing-trick token features,

        score(doc) = Σ_tokens w[h32(tok) mod dims]

    The weight table here is a deterministic integer LCG over the
    bucket index (w[b] = ((b+1)·2654435761) mod 1000001 − 500000, so
    w ∈ [−500000, 500000]) — a stand-in for trained weights with the
    identical execution shape: in production the weight array is a
    broadcast numpy vector inside the same fold. Integer weights keep
    the whole path exact (no float summation contract), and `keep` is
    the sign test a real sigmoid threshold reduces to.

    Shape: ZERO shuffles — tokenize, hash, weight-lookup and sum all
    happen doc-locally in one `aggregate` fold over the token array
    (the minhash_signatures shape), so at 100 TB this is a pure map
    stage, embarrassingly parallel over input splits. Returns
    (doc_id, n_tokens, score_sum, keep)."""
    toks = _tokens(F.col("text"))
    weight = lambda t: (  # noqa: E731
        ((h32(t) % F.lit(dims)) + F.lit(1)) * F.lit(2654435761)
    ) % F.lit(1000001) - F.lit(500000)
    score = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + weight(t)
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        score.alias("score_sum"),
        (score > 0).alias("keep"),
    )


def logistic_loss(s: Column, label: Column) -> Column:
    """Per-row logistic log-loss in the numerically stable softplus
    form max(s,0) − s·label + log1p(e^−|s|). The textbook
    label·log1p(e^−s) + (1−label)·log1p(e^s) overflows F.exp to inf
    past |s| ≈ 709 and reports an inf epoch loss while training (which
    uses the sigmoid residual, stable by construction) is actually
    progressing; this form is exact for all finite s."""
    return (
        F.greatest(s, F.lit(0.0)) - s * label + F.log1p(F.exp(-F.abs(s)))
    )


def train_quality_model(
    labeled: DataFrame,
    dims: int = 4096,
    iters: int = 5,
    lr: float = 0.5,
    reg: float = 0.0,
):
    """TRAIN the quality classifier in-engine — the counterpart of
    quality_model_score, which only APPLIES fixed weights. Batch
    logistic regression over the same hashing-trick features
    (bucket = h32(token) mod dims, count-valued), so the trained
    vector drops straight into apply_quality_model's fold.

    Input: (doc_id, text, label) with label in {0, 1} (1 = keep).
    Returns (weights: numpy float64[dims], history: [(iter, logloss)]).

    Per iteration, two corpus-linear passes and zero corpus-sized
    driver traffic (the kmeans discipline — clustering.py):
      1. score: exploded (doc, bucket) rows broadcast-join the
         dims-row weight table, groupBy(doc) sums — residual
         r = sigmoid(score) − label lands in a doc-sized frame;
      2. gradient: the same exploded rows join the residual on doc_id
         (co-keyed shuffle) and groupBy(bucket) sums r — the ONLY
         collect is the dims-sized gradient.
    Weights update driver-side in numpy: w −= lr·(g/n + reg·w).
    State is one dims-float vector broadcast per iteration, never
    corpus-sized; iterations are a driver-bounded loop exactly like
    Lloyd's in emb_kmeans. No oracle (float sigmoid; the driver
    registry carries the deterministic apply path instead) — pinned by
    convergence tests on a separable fixture.
    """
    import math

    import numpy as np

    spark = labeled.sparkSession
    feats = explode_nonnull(labeled, _tokens(F.col("text")), "t").select(
        "doc_id",
        F.col("label").cast("double").alias("label"),
        "t",
    ).select(
        "doc_id", "label", (h32(F.col("t")) % dims).alias("bucket")
    )
    # counts per (doc, bucket): one map-side-combinable aggregation,
    # reused by every iteration (cache the narrow frame)
    fx = feats.groupBy("doc_id", "label", "bucket").agg(
        F.count("*").cast("double").alias("x")
    )
    fx.persist()
    try:
        n_docs = fx.select("doc_id").distinct().count()
        w = np.zeros(dims, dtype=np.float64)
        history: list[tuple[int, float]] = []
        for it in range(iters):
            wdf = F.broadcast(
                spark.createDataFrame(
                    [(int(b), float(w[b])) for b in range(dims)],
                    "bucket INT, w DOUBLE",
                )
            )
            scored = (
                fx.join(wdf, "bucket")
                .groupBy("doc_id", "label")
                .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
            )
            resid = scored.select(
                "doc_id",
                "label",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("s"))) - F.col(
                    "label"
                )).alias("r"),
                F.col("s"),
            )
            resid.persist()
            try:
                loss = resid.select(
                    F.avg(
                        logistic_loss(F.col("s"), F.col("label"))
                    ).alias("ll")
                ).collect()[0]["ll"]
                grad_rows = (
                    fx.join(resid.select("doc_id", "r"), "doc_id")
                    .groupBy("bucket")
                    .agg(F.sum(F.col("x") * F.col("r")).alias("g"))
                    .collect()
                )
            finally:
                resid.unpersist()
            g = np.zeros(dims, dtype=np.float64)
            for row in grad_rows:
                g[row["bucket"]] = row["g"]
            w -= lr * (g / max(n_docs, 1) + reg * w)
            history.append((it, float(loss) if loss is not None else math.nan))
    finally:
        fx.unpersist()
    return w, history


def apply_quality_model(docs: DataFrame, weights) -> DataFrame:
    """Apply a trained weight vector (train_quality_model) at corpus
    scale: exploded tokens broadcast-join the dims-row weight table,
    one groupBy(doc) sum — the distributed-robust shape (a dims-sized
    literal array in the plan would bloat codegen; a broadcast join
    keeps the vector off the expression tree). Returns
    (doc_id, n_tokens, score, keep)."""
    spark = docs.sparkSession
    dims = len(weights)
    wdf = F.broadcast(
        spark.createDataFrame(
            [(int(b), float(weights[b])) for b in range(dims)],
            "bucket INT, w DOUBLE",
        )
    )
    toks = explode_nonnull(docs, _tokens(F.col("text")), "t").select(
        "doc_id", (h32(F.col("t")) % dims).alias("bucket")
    )
    scored = (
        toks.join(wdf, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w").alias("score"),
        )
    )
    return scored.withColumn("keep", F.col("score") > 0)


def bpe_pair_counts(docs: DataFrame, top_k: int = 50) -> DataFrame:
    """One iteration of BPE tokenizer training: adjacent character-pair
    counts weighted by word frequency — the argmax pair is the next
    merge. Uses the classic BPE trick: pair statistics fold over the
    DISTINCT-WORD vocabulary (weight = word count), not the corpus, so
    after the map-side-combinable word count the expensive explode runs
    on vocabulary-sized data. Top-k lands as WindowGroupLimit (partial
    per-partition top-k before a single-row exchange), same shape as
    docs_vocabulary."""
    tok = explode_nonnull(docs, _tokens(F.col("text")), "w").select(
        "w"
    ).filter(F.col("w") != "")
    wc = tok.groupBy("w").agg(F.count("*").alias("c"))
    pairs_arr = F.when(
        F.length("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    agg = (
        wc.select("c", F.explode(pairs_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("c").cast("long").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("rank", "pair", "n")
    )


def h32(col: Column) -> Column:
    """Shared 32-bit string hash: first 8 hex chars of md5 as an int.
    DuckDB replays it as ('0x' || substr(md5(x),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_py(s: str) -> int:
    """Driver/worker-side Python replay of h32 — THE single copy
    (bloom probes, term→bucket routing, hyperplane signs all route
    here so a future change to the house hash cannot desynchronize
    one of several inline replicas)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def h60(col: Column) -> Column:
    """60-bit variant (15 hex chars) — collision-safe for fingerprints."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles(text: Column, n: int) -> Column:
    """Word n-gram shingles extracted in ONE regex pass: a lookahead
    captures the overlapping n-gram starting at each token. ~7× faster
    than the transform(sequence, slice+concat_ws) formulation — regex
    runs as a plain codegen'd string function while array lambdas are
    interpreted per element (~8µs/shingle overhead at sf0.1).

    Texts with fewer than n tokens yield the whole text as the single
    shingle (matching the slice-based semantics the DuckDB oracles
    replay). The regex treats any whitespace as a separator while the
    spec tokenizes on single spaces only, so texts with irregular
    whitespace (runs of spaces, leading/trailing space, tabs/newlines)
    take the exact slice-based path instead; equality with the slice
    form for arbitrary input is property-tested (hypothesis).
    """
    toks = _tokens(text)
    pat = r"(?=(" + r"\S+ " * (n - 1) + r"\S+))\S+ ?"
    grams = F.filter(
        F.regexp_extract_all(text, F.lit(pat), 1), lambda s: s != ""
    )
    slice_form = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    irregular = text.rlike(r"  |^ | $|[^\S ]")
    return (
        F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks)))
        .when(irregular, slice_form)
        .otherwise(grams)
    )


def fingerprints(docs: DataFrame, n: int = 5) -> DataFrame:
    """Document fingerprinting: full-text md5 + a rolling min-hash over
    word n-gram shingles (winnowing-style global min of 60-bit shingle
    hashes — identical docs ⇒ identical fp, near-identical docs usually
    share it)."""
    sh = shingles(F.col("text"), n)
    min_h = F.array_min(F.transform(sh, lambda s: h60(s)))
    return docs.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        min_h.alias("minhash_fp"),
    )


def repetition_signals(
    docs: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The FULL Gopher §A1.1 repetition suite (Rae et al. 2021) —
    gopher_rules carries only the 2-gram duplicate mass; pre-training
    pipelines gate on all of: duplicate-line fractions, the character
    mass of the single most frequent {2,3,4}-gram, and the character
    mass of duplicated {5..10}-grams. All ratios are exact integer
    MICRO-fractions (value·10⁶ by BIGINT division), bit-replayable by
    any engine. Deterministic definitions:

      lines               non-empty '\\n' segments
      dup_line_frac       (n_lines − n_distinct_lines) / n_lines
      dup_line_char_frac  Σ_dup (c−1)·len(line) / Σ c·len(line)
      top_{n}gram_char_frac  c*·len(g*) / n_chars, g* = the most
                          frequent word n-gram (ties → longest)
      dup_{n}gram_char_frac  Σ_{c>1} c·len(g) / n_chars

    Docs with NULL or empty text are excluded (no denominator), as
    are docs with NO non-empty lines (text of only newlines): the
    line-stats join is the exclusion gate, mirrored by the oracle.

    Plan at 100 TB: ONE tagged explode covers every n — each doc emits
    (n, gram) rows for all nine n's in a single Generate, so the
    per-n signals ride one groupBy(doc, n, gram) exchange with
    map-side combine, one (doc, n) reduce, and one pivot to columns —
    3 corpus-linear exchanges total instead of 9 explode+join chains
    (the naive per-n formulation shuffles the corpus nine times and
    joins nine doc-sized frames). Lines are a separate narrow pass
    (2 exchanges) joined back on the already-partitioned doc_id.
    No arrays of postings anywhere: a gram repeated c times is a
    counter, never a c-element list. Zero Python.
    """
    from warp_pipe_spark.io import fan_out

    all_ns = sorted(set(top_ns) | set(dup_ns))
    # fan_out: the 9-family explode multiplies each partition's bytes
    # ~300× and Spark can't split a partition mid-stage — a small
    # single-split scan would serialize the whole Generate onto one
    # core (no-op at real scale; see io.fan_out)
    base = fan_out(
        docs.filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        ).select("doc_id", F.length("text").alias("n_chars"), "text"),
        "doc_id",
    )

    def _tag(n: int) -> Column:
        # NB: a two-arg lambda would receive (element, INDEX) from
        # F.transform — the index, not a default-bound n
        return F.transform(
            shingles(F.col("text"), n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
        )

    tagged = F.flatten(F.array(*[_tag(n) for n in all_ns]))
    rows = explode_nonnull(base, tagged, "x").select(
        "doc_id", "n_chars", "x.n", "x.g"
    )
    gc = rows.groupBy("doc_id", "n", "g").agg(
        F.count("*").alias("c"), F.first("n_chars").alias("n_chars")
    )
    per = gc.groupBy("doc_id", "n").agg(
        F.max(
            F.struct(F.col("c").alias("c"), F.length("g").alias("l"))
        ).alias("top"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.length("g")).otherwise(
                F.lit(0)
            )
        ).alias("dup_chars"),
        F.first("n_chars").alias("n_chars"),
    )
    piv = (
        per.select(
            "doc_id",
            "n_chars",
            "n",
            (F.col("top.c") * F.col("top.l")).alias("top_chars"),
            "dup_chars",
        )
        .groupBy("doc_id", "n_chars")
        .pivot("n", all_ns)
        .agg(
            F.first("top_chars").alias("top"),
            F.first("dup_chars").alias("dup"),
        )
    )

    lines = explode_nonnull(
        base,
        F.filter(F.split(F.col("text"), "\n"), lambda s: F.length(s) > 0),
        "line",
    ).select("doc_id", "line")
    lc = lines.groupBy("doc_id", "line").agg(F.count("*").alias("c"))
    lstat = lc.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.count("*").alias("n_distinct_lines"),
        F.sum(F.col("c") * F.length("line")).alias("line_chars"),
        F.sum((F.col("c") - 1) * F.length("line")).alias(
            "dup_line_chars"
        ),
    )

    out = piv.join(lstat, "doc_id")
    cols = [
        F.col("doc_id"),
        F.col("n_chars"),
        F.col("n_lines"),
        F.expr(
            "((n_lines - n_distinct_lines) * 1000000) div n_lines"
        ).alias("dup_line_frac_micro"),
        F.expr("(dup_line_chars * 1000000) div line_chars").alias(
            "dup_line_char_frac_micro"
        ),
    ]
    for n in top_ns:
        cols.append(
            F.expr(f"(`{n}_top` * 1000000) div n_chars").alias(
                f"top_{n}gram_char_frac_micro"
            )
        )
    for n in dup_ns:
        cols.append(
            F.expr(f"(`{n}_dup` * 1000000) div n_chars").alias(
                f"dup_{n}gram_char_frac_micro"
            )
        )
    return out.select(*cols)


def dedup_lines(
    docs: DataFrame, min_docs: int = 2, sep: str = "\n"
) -> DataFrame:
    """Cross-corpus LINE dedup — the C4/CCNet boilerplate scrub: a
    line occurring in at least `min_docs` DISTINCT documents is
    boilerplate (nav bars, cookie banners, license headers) and is
    removed from EVERY document; each text reassembles in original
    line order. Returns (doc_id, text, n_lines, n_removed).

    Matching is on the lowercased, trimmed line (the CCNet
    normalization), so indentation/case variants of the same
    boilerplate collapse; blank lines are never counted and never
    removed (they are structure, not content). A line repeated many
    times WITHIN one document but nowhere else stays — the distinct-doc
    count, not the occurrence count, is the boilerplate signal.

    Plan at 100 TB: posexplode → a map-side-combinable
    count(DISTINCT doc_id) per 60-bit line hash (the same no-posting-
    list discipline as docs_dup_spans — no per-hash arrays, a
    boilerplate line shared by D docs streams through a count) → the
    dup-hash set joins back (AQE can split a skewed hash) → one
    bounded-group reassembly agg per doc. Three exchanges, all
    corpus-linear."""
    # \Q...\E: `sep` is a LITERAL separator in both directions —
    # F.split takes a regex, concat_ws a literal, and an unquoted "."
    # or "|" would split on every character while rejoining with the
    # literal (paragraph mode "\n\n" happened to work only because it
    # has no metacharacters)
    lines = (
        docs.select(
            "doc_id",
            F.posexplode_outer(
                F.split(F.col("text"), "\\Q" + sep + "\\E")
            ).alias("pos", "line"),
        )
        .filter(F.col("line").isNotNull())
        .withColumn("_h", h60(F.lower(F.trim(F.col("line")))))
    )
    blank = F.trim(F.col("line")) == ""
    nd = (
        lines.filter(~blank)
        .groupBy("_h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("_h", F.lit(True).alias("_dup"))
    )
    kept = (
        lines.join(nd, "_h", "left")
        .withColumn("_drop", ~blank & F.coalesce(F.col("_dup"), F.lit(False)))
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("_drop"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias("text"),
            F.count("*").alias("n_lines"),
            F.sum(F.col("_drop").cast("int")).alias("n_removed"),
        )
    )


def scrub_dup_spans(
    docs: DataFrame, n: int = 50, keep_canonical: bool = True
) -> DataFrame:
    """EXACT-SUBSTRING deduplication — the removal counterpart of the
    docs_dup_spans MEASUREMENT query (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": scrub every repeated
    word n-gram span from the corpus, keeping one canonical copy).
    Returns (doc_id, text, n_tokens, n_removed_tokens).

    Semantics: a span START is any token position whose n-gram hash
    occurs at >= 2 positions corpus-wide (cross-doc AND within-doc
    repeats both count, as in the paper's suffix-array tool); with
    keep_canonical the globally smallest (doc_id, pos) occurrence of
    each hash is exempt, so one copy of every repeated span survives.
    A token dies iff ANY non-canonical span start covers it. As in the
    released ExactSubstr tool, overlapping repeats can scrub parts of
    a canonical copy whose neighborhood is itself a repeat elsewhere —
    exactly-one-survivor is per SPAN, not per maximal region.
    Reassembly keeps surviving tokens in order, single-space-joined
    (the house token spec). Docs shorter than n tokens have no span
    starts and pass through verbatim; NULL-text docs are excluded.

    Plan at 100 TB — no suffix array, no posting lists, corpus-linear:
      1. one tagged explode of (doc, pos, 60-bit n-gram hash);
      2. per-hash occurrence count + canonical = two streaming
         aggregates (count + min(struct(doc,pos)) — a boilerplate
         hash shared by D positions costs D rows through a combiner,
         never a D-element array);
      3. the dup-start flags join back on the hash (AQE splits a
         skewed hash) and land on the token table keyed (doc, pos);
      4. the kill mask is ONE bounded window per doc —
         max(dup_start) over rowsBetween(-(n-1), 0) — and reassembly
         is the dedup_lines bounded-group agg.
    """
    from pyspark.sql import Window

    from warp_pipe_spark.io import fan_out

    base = fan_out(
        docs.filter(F.col("text").isNotNull()).select("doc_id", "text"),
        "doc_id",
    )
    # posexplode_outer + null-filter, not posexplode: the inferred
    # size()>0 filter of the non-outer form would re-run the n-gram
    # hash transform below the fan_out exchange (explode_nonnull's
    # rationale; posexplode has no shared helper because of the twin
    # pos/val aliases)
    toks = base.select(
        "doc_id",
        F.posexplode_outer(_tokens(F.col("text"))).alias("pos", "tok"),
    ).filter(F.col("tok").isNotNull())
    grams = base.select(
        "doc_id",
        F.posexplode_outer(
            F.transform(
                # positional n-grams: NO short-text whole-doc
                # fallback (a doc shorter than n has no span to
                # scrub), unlike the similarity shingles. The short
                # branch must be an EMPTY array — sequence(1, 0)
                # DESCENDS in Spark and would emit slice(toks, 0, n)
                F.when(
                    F.size(_tokens(F.col("text"))) >= n,
                    F.sequence(
                        F.lit(1),
                        F.size(_tokens(F.col("text"))) - (n - 1),
                    ),
                ).otherwise(F.expr("array()").cast("array<int>")),
                lambda i: h60(
                    F.concat_ws(" ", F.slice(_tokens(F.col("text")), i, n))
                ),
            )
        ).alias("pos", "h"),
    ).filter(F.col("h").isNotNull())
    per_h = grams.groupBy("h").agg(
        F.count("*").alias("occ"),
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("canon"),
    )
    dup_h = per_h.filter(F.col("occ") >= 2)
    starts = grams.join(dup_h, "h").select(
        "doc_id",
        "pos",
        (
            ~(
                F.lit(keep_canonical)
                & (F.col("canon.doc_id") == F.col("doc_id"))
                & (F.col("canon.pos") == F.col("pos"))
            )
        ).alias("_start"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(n - 1), 0)
    )
    marked = (
        toks.join(starts, ["doc_id", "pos"], "left")
        .withColumn(
            "_kill",
            F.coalesce(
                F.max(F.when(F.col("_start"), 1).otherwise(0)).over(w) == 1,
                F.lit(False),
            ),
        )
    )
    return marked.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_kill"),
                            F.struct(F.col("pos"), F.col("tok")),
                        )
                    )
                ),
                lambda x: x["tok"],
            ),
        ).alias("text"),
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.col("_kill").cast("long")).alias("n_removed_tokens"),
    )
