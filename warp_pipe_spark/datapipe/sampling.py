"""Deterministic corpus sampling: exact-count stratified sampling and
hash-priority weighted sampling.

Training-data pipelines sample constantly (ablation subsets, mixture
tuning, eval holdouts) and the two properties that matter at 100 TB are
determinism (same corpus → same sample, no RNG state to ship) and
avoiding a global sort. Both ops key every decision off md5(doc_id) so
any engine — and any rerun — reproduces the same sample.

Two shapes, two scale profiles:
  * `stratified_sample` takes EXACTLY ceil(f·n_s) docs per stratum —
    that requires a per-stratum ranking, i.e. one shuffle keyed by
    stratum and a WindowGroupLimit-style rank. Correct but pays a
    per-stratum sort; a stratum holding half the corpus makes that
    window the bottleneck.
  * the hash-threshold path (docs_hash_split / mix_rebalance in
    __spark_entry__) is the approximate variant — a pure map-side
    filter (keep if hash < f·2^60), zero shuffles, binomial count
    jitter. At scale you use the threshold path unless the contract is
    an exact row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warp_pipe_spark.io import explode_nonnull, open_index, write_index


def _hash_rank(col) -> F.Column:
    """Deterministic per-row priority: md5 of the id's decimal string.
    Hex md5 compares identically as a string in every engine."""
    return F.md5(F.col(col).cast("string"))


def stratified_sample(
    docs: DataFrame,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    fraction: float = 0.2,
) -> DataFrame:
    """Exact-count stratified sample: per stratum, rank docs by
    md5(doc_id) and keep the first ceil(fraction * stratum_size), with
    BOTH the product and the ceil computed in IEEE-double arithmetic —
    the oracle replays it with an explicit CAST AS DOUBLE so the two
    engines agree bit-for-bit. (Note the double product can sit one ulp
    above an exact integer — e.g. 0.2*30 → 6.000000000000001, ceil 7 —
    so the cut can exceed the rational-arithmetic ceil by one row;
    deterministic and engine-identical, but not decimal-exact.)
    Returns (stratum, doc_id, pick_rank, stratum_size).

    One shuffle keyed by stratum: the count and the rank ride the same
    partitioning (window count(*) + row_number over the same partition
    spec — Catalyst computes both in a single Window exchange)."""
    w = Window.partitionBy(stratum_col)
    wo = w.orderBy(_hash_rank(id_col).asc(), F.col(id_col).asc())
    return (
        docs.select(
            F.col(stratum_col).alias("stratum"),
            F.col(id_col).alias("doc_id"),
            F.row_number().over(wo).cast("long").alias("pick_rank"),
            F.count("*").over(w).alias("stratum_size"),
        )
        .filter(
            F.col("pick_rank") <= F.ceil(F.lit(fraction) * F.col("stratum_size"))
        )
    )


def pack_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic sequence packing — the concat-then-chunk layout
    step between a curated corpus and a pretraining data loader: the
    token stream is cut into fixed `chunk_tokens` chunks and each
    document learns which chunks it spans. GPT-style packing with
    document straddling; integer-exact, so any engine replays the
    layout bit-for-bit.

    A single global token stream would make the cumulative sum one
    sequential window — the classic non-parallelizable prefix-sum trap.
    Instead docs are sharded by md5(id) (each shard is an independent
    token stream, the way each data-loader worker owns its shard) and
    ordered by hash within the shard: ONE window exchange keyed by
    shard, n_shards-way parallel, linear at any corpus size with
    n_shards sized to the cluster.

    Returns (doc_id, shard, n_tokens, tok_start, chunk_first,
    chunk_last) with tok_start the document's offset in its shard's
    stream.

    NULL-text documents are EXCLUDED from the layout: split(NULL)
    makes n_tokens NULL, and while the shard's running sum skips NULL
    (other documents' offsets stay correct), the NULL doc itself would
    emit a poisoned row — NULL tok_start but a chunk_last computed
    from its NEIGHBORS' running sum, which a data loader would read as
    "this document spans chunk k". A document with no text occupies no
    stream positions and belongs to no chunk; surfacing such rows is
    the ingest pipeline's dead-letter job (pipeline.py), not the
    layout's. Empty-string text is NOT null: it is one empty token,
    occupying one position — deterministic in both engines."""
    docs = docs.filter(F.col(text_col).isNotNull())
    h = F.md5(F.col(id_col).cast("string"))
    h60 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        h.alias("h"),
        F.pmod(h60, F.lit(n_shards)).alias("shard"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        base.withColumn("tok_end", F.sum("n_tokens").over(w))
        .withColumn("tok_start", F.col("tok_end") - F.col("n_tokens"))
        .withColumn("chunk_first", F.expr(f"tok_start div {chunk_tokens}"))
        .withColumn("chunk_last", F.expr(f"(tok_end - 1) div {chunk_tokens}"))
        .select(
            "doc_id", "shard", "n_tokens", "tok_start", "chunk_first", "chunk_last"
        )
    )


def chunk_texts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """MATERIALIZE the training chunks pack_chunks lays out: every
    token lands at its global position in its shard's stream, chunks
    are the position-div-C groups, and each chunk's text is
    reassembled in order. Returns (shard, chunk_id, n_tokens,
    chunk_md5) — the digest stands in for the chunk payload so the
    result stays compact and oracle-comparable; a writer selects the
    joined text instead of its md5.

    Shape at scale: pack_chunks' per-shard window (one exchange), then
    posexplode to token rows and ONE shuffle keyed by (shard,
    chunk_id). Every aggregation group is ≤ chunk_tokens rows BY
    CONSTRUCTION — the collect_list that is banned on unbounded keys
    (posting lists, neighborhoods) is safe here because the chunk size
    bounds it; sort_array restores token order without a sort node."""
    layout = pack_chunks(docs, id_col, text_col, chunk_tokens, n_shards)
    toks = layout.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        "doc_id",
    ).select(
        "shard",
        "tok_start",
        F.posexplode(F.split(F.col("text"), " ")).alias("i", "tok"),
    )
    pos = (F.col("tok_start") + F.col("i")).alias("pos")
    placed = toks.select(
        "shard", pos, F.expr(f"(tok_start + i) div {chunk_tokens}").alias("chunk_id"), "tok"
    )
    return (
        placed.groupBy("shard", "chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )


def chunk_texts_overlap(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    stride: int = 384,
    n_shards: int = 8,
) -> DataFrame:
    """SLIDING-window chunk materialization — the retrieval-indexing
    twin of chunk_texts: windows start every `stride` tokens and span
    `chunk_tokens`, so consecutive chunks overlap by chunk_tokens −
    stride (the standard RAG chunking that keeps a passage's context
    from being cut at an arbitrary boundary). Same per-shard stream
    layout as pack_chunks; token at stream position p belongs to
    windows k with k·stride ≤ p < k·stride + chunk_tokens, i.e.
    max(0, ⌊(p−chunk)/stride⌋+1) ≤ k ≤ ⌊p/stride⌋ — at most
    ⌈chunk/stride⌉ memberships per token, so the explode fans out by
    a small CONSTANT (2 at the 512/384 default), and every (shard,
    window) aggregation group is ≤ chunk_tokens rows by construction.
    One window exchange + one (shard, chunk)-keyed shuffle, identical
    to the disjoint variant. Returns (shard, chunk_id, n_tokens,
    chunk_md5)."""
    if stride > chunk_tokens:
        raise ValueError(
            f"stride={stride} > chunk_tokens={chunk_tokens} would leave "
            "GAPS between windows (tokens silently absent from every "
            "chunk); use stride <= chunk_tokens (== for disjoint chunks)"
        )
    if stride <= 0:
        # without this, 'pos div 0' is NULL under non-ANSI semantics and
        # explode(sequence(lo, NULL)) silently drops every row — an
        # empty result with no diagnostic instead of an error
        raise ValueError(f"stride must be positive, got {stride}")
    layout = pack_chunks(docs, id_col, text_col, chunk_tokens, n_shards)
    toks = layout.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        "doc_id",
    ).select(
        "shard",
        "tok_start",
        F.posexplode(F.split(F.col("text"), " ")).alias("i", "tok"),
    )
    # pos < chunk guards the negative-numerator case: integer div
    # truncates toward zero while the membership bound needs floor, so
    # the k_lo formula is only applied where pos - chunk >= 0
    placed = explode_nonnull(
        toks.select(
            "shard",
            (F.col("tok_start") + F.col("i")).alias("pos"),
            "tok",
        ),
        F.sequence(
            F.expr(
                f"CASE WHEN pos < {chunk_tokens} THEN 0L "
                f"ELSE (pos - {chunk_tokens}) div {stride} + 1 END"
            ),
            F.expr(f"pos div {stride}"),
        ),
        "chunk_id",
    ).select("shard", "pos", "chunk_id", "tok")
    return (
        placed.groupBy("shard", "chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )


def weighted_priority_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    top_k: int = 50,
) -> DataFrame:
    """Hash-priority weighted sample: key = hash_u(id) / weight, keep
    the global top_k smallest keys — rows with larger weight get
    proportionally smaller keys, so selection probability rises with
    weight (the integer-rational cousin of Efraimidis-Spirakis A-Res,
    chosen over u^(1/w) because it needs no pow/ln and replays exactly
    in any engine). hash_u is the first 15 hex digits of md5 as a
    60-bit uniform integer.

    Global top-k = TakeOrderedAndProject (per-partition heaps, no full
    sort). Returns (id, weight, priority)."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "double"
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(weight_col).alias("weight"),
            # no rounding: priority ~ 2^60/weight is far above the 6-dp
            # range where round() is meaningful on doubles, and the
            # division of identical operands is already bit-exact in
            # every IEEE engine
            (h / F.col(weight_col)).alias("priority"),
        )
        .filter(F.col("weight") > 0)
        .orderBy(F.col("priority").asc(), F.col("id").asc())
        .limit(top_k)
    )


def select_token_budget(
    scored: DataFrame,
    budget: int,
    score_col: str = "score",
    tok_col: str = "n_tokens",
) -> DataFrame:
    """Data selection under a token budget — the final step of corpus
    curation: keep the highest-scoring documents whose cumulative token
    count fits `budget`. Semantically identical to the textbook global
    window

        keep := sum(tok) OVER (ORDER BY score DESC, doc_id) <= budget

    but computed WITHOUT a global single-partition sort, which is the
    scale-killer in the naive form (Window.orderBy with no partitionBy
    funnels 100 TB through one task). Two-stage exact equivalent:

      1. aggregate token mass per DISTINCT SCORE (one corpus-linear
         groupBy); a window over the score bins — |distinct scores|
         rows, tiny for the integer/micro-fraction scores the quality
         ops emit — classifies each bin as fully-kept (its cumulative
         mass fits), fully-dropped (the budget was already spent), or
         THE boundary bin (at most one).
      2. broadcast-join the three-way verdict back (map-side) and
         rank per-doc ONLY inside the boundary bin, with a window
         PARTITIONED by score — bounded by one bin's docs, never the
         corpus.

    Contract: the stage-1 window is |distinct scores|-sized — with
    continuous per-doc-unique scores it degrades back to a global
    sort; pre-quantize such scores (the house micro-fraction integers
    make bins ~10⁶ max). The verdict join is left unhinted so AQE
    broadcasts it only while the bin table actually is small — a
    forced broadcast would ship a corpus-sized verdict frame through
    the driver exactly in the degenerate case. Ties inside a score
    resolve by doc_id
    ascending, greedy without skipping: a boundary doc that overflows
    the remainder stops the fill even if a smaller doc follows —
    deterministic and exactly the global-window semantics.

    Returns the input rows plus `keep`.
    """
    s, t = F.col(score_col), F.col(tok_col)
    bins = scored.groupBy(score_col).agg(F.sum(t).alias("_btok"))
    wb = (
        Window.orderBy(F.desc(score_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bins = bins.select(
        score_col,
        F.coalesce(F.sum("_btok").over(wb), F.lit(0)).alias("_before"),
        "_btok",
    ).select(
        score_col,
        "_before",
        (F.col("_before") + F.col("_btok")).alias("_after"),
    )
    verdict = bins.select(
        score_col,
        "_before",
        F.when(F.col("_after") <= budget, F.lit("keep"))
        .when(F.col("_before") >= budget, F.lit("drop"))
        .otherwise(F.lit("boundary"))
        .alias("_verdict"),
    )
    joined = scored.join(verdict, score_col)
    decided = joined.filter(F.col("_verdict") != "boundary").withColumn(
        "keep", F.col("_verdict") == "keep"
    )
    wd = (
        Window.partitionBy(score_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the filter FIRST: the per-doc window's input is one bin's docs,
    # never the corpus (fully-decided bins skip the sort entirely)
    boundary = joined.filter(F.col("_verdict") == "boundary").withColumn(
        "keep", F.col("_before") + F.sum(t).over(wd) <= budget
    )
    return decided.unionByName(boundary).drop("_verdict", "_before")


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.3,
    budget: int | None = None,
    group_col: str = "source",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture rebalancing (the mT5/XLM-R
    multilingual trick): sample a token `budget` from the corpus with
    group shares ∝ mass_g^alpha — alpha=1 is the natural mix, alpha→0
    approaches uniform, the usual 0.2-0.7 range boosts tail groups.
    docs_mix_rebalance's flat median budget is a cousin of the same
    shape without the temperature dial.

    budget=None uses the LARGEST budget at which the temperature
    shares hold exactly — min_g(mass_g · Σw / w_g), the point where
    the scarcest boosted group is consumed whole and nothing is
    oversampled. (At alpha=1 that is the full corpus: shares equal
    the natural mix.) An explicit larger budget triggers capped
    water-filling: groups whose target exceeds their mass keep
    everything and their surplus re-normalizes the rest.

    Keep rule: deterministic hash threshold (md5 of the id, the house
    sampler scheme) against rate_micro(g) = target_g/mass_g in exact
    integer micros; the single float step (mass^alpha) rounds to
    micro units BEFORE normalization, so the keep-set reproduces
    across engines and reruns. Two corpus passes: a groupBy for
    masses (|groups|-row driver math), then a stateless
    broadcast-join filter — the corpus never shuffles. Returns the
    kept docs with per-row rate_micro for auditability.
    """
    from warp_pipe_spark.datapipe.text import h32

    spark = docs.sparkSession
    # NULL weights carry no mass and can't be sampled by token budget;
    # an all-NULL group would otherwise surface as mass None and crash
    # the share math. NULL GROUPS are excluded for the same reason the
    # final equi-join would drop them anyway — but excluded BEFORE the
    # budget math, so their mass never inflates other groups' targets
    docs = docs.filter(
        F.col(weight_col).isNotNull() & F.col(group_col).isNotNull()
    )
    masses = (
        docs.groupBy(group_col)
        .agg(F.sum(F.col(weight_col)).alias("mass"))
        .collect()
    )
    total = sum(r["mass"] for r in masses)
    # weights in micro units, rounded once — the only float step.
    # Half-AWAY-from-zero via int(x+0.5) (x is always positive here),
    # NOT Python round(): round() is banker's (half-to-even) while the
    # registered DuckDB oracle's round() is half-away — an exact .5
    # tie in mass^alpha*1e6 would hash-mismatch despite identical
    # inputs (ADVICE r13). The oracle mirrors with floor(x + 0.5).
    w_micro = {
        r[group_col]: max(1, int((r["mass"] ** alpha) * 1_000_000 + 0.5))
        for r in masses
    }
    w_total = sum(w_micro.values())
    mass_by = {r[group_col]: r["mass"] for r in masses}
    if budget is None:
        budget = min(
            mass_by[g] * w_total // w for g, w in w_micro.items()
        )
    budget = min(budget, total)
    # capped water-filling: a group whose proportional target exceeds
    # its mass keeps everything; its surplus re-normalizes the rest
    capped: set = set()
    for _ in range(len(masses)):
        free_w = sum(w for g, w in w_micro.items() if g not in capped)
        free_budget = budget - sum(mass_by[g] for g in capped)
        newly = {
            g
            for g, w in w_micro.items()
            if g not in capped
            and w * free_budget >= free_w * mass_by[g]
        }
        if not newly:
            break
        capped |= newly
    free_w = sum(w for g, w in w_micro.items() if g not in capped) or 1
    free_budget = budget - sum(mass_by[g] for g in capped)
    rates = {}
    for g, w in w_micro.items():
        if g in capped:
            rates[g] = 1_000_000
        else:
            target = w * free_budget // free_w
            rates[g] = min(
                1_000_000, (target * 1_000_000) // max(mass_by[g], 1)
            )
    rate_df = F.broadcast(
        spark.createDataFrame(
            [(g, int(r)) for g, r in rates.items()],
            f"{group_col} STRING, rate_micro LONG",
        )
    )
    return (
        docs.join(rate_df, group_col)
        .filter(
            h32(F.col(id_col).cast("string")) % 1_000_000
            < F.col("rate_micro")
        )
    )


def _dsir_buckets(
    docs: DataFrame, n_buckets: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, bucket) — one row per hashed-ngram OCCURRENCE (unigrams +
    word bigrams, the DSIR paper's feature space), bucket = h32(ngram)
    % n_buckets. Word split matches the module's whitespace tokenizer;
    bigrams join with a single space so 'a b' the bigram and 'a b' the
    two unigrams hash differently only via the h32 input text itself
    (exactly reproducible in SQL). NULL texts are excluded (the
    temperature_mix convention); an empty text yields the '' unigram,
    which is fine — it is a feature like any other, identical on both
    engines."""
    t = F.split(F.col(text_col), " ")
    d = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"), t.alias("_t")
    )
    bigrams = F.when(
        F.size("_t") >= 2,
        F.expr(
            "transform(sequence(0, size(_t) - 2), "
            "i -> concat(element_at(_t, i + 1), ' ', "
            "element_at(_t, i + 2)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    from warp_pipe_spark.datapipe.text import h32

    return explode_nonnull(
        d, F.concat(F.col("_t"), bigrams), "_ng"
    ).select("_id", (h32(F.col("_ng")) % n_buckets).alias("bucket"))


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc
    by how much more likely its hashed-ngram bag is under a TARGET
    corpus distribution than under the raw corpus's own —
    log w(x) = Σ_b c_b(x)·(ln p_b − ln q_b), with p/q Laplace-smoothed
    bucket multinomials over n_buckets hashed unigram+bigram features.
    The standard model-free "select data that looks like the target"
    primitive for 100 TB pretraining pipelines (quality classifiers
    need labels; DSIR needs only a target SAMPLE).

    Integer-exact replay contract: the per-bucket log-ratio is ONE ln
    of a ratio assembled in a fixed operation order,
        lr_micro(b) = floor(ln((p_b+1)·(Q+B) / ((q_b+1)·(P+B)))·1e6
                            + 0.5)
    (half-away rounding, the temperature_mix rule), and the per-doc
    score is the exact integer Σ c_b·lr_micro(b) — float enters once
    per BUCKET (≤ n_buckets lns), never per doc, so the oracle replays
    the per-doc sums bit-for-bit and rank boundaries cannot flip on
    accumulation order.

    Shape at scale: the corpus explodes once into (id, bucket); bucket
    counts are a map-side-combinable groupBy over ≤ n_buckets keys;
    the ratio table is ≤ n_buckets rows and BROADCASTS back onto the
    exploded frame; one groupBy(id) sums the doc scores — that inner
    join is TOTAL (split() never returns an empty array, so every doc
    has ≥1 feature and every raw bucket is in q by construction),
    which is why there is no docs-side outer join re-attaching missing
    ids. The q/p totals ride ONE full-outer join of the two ≤n_buckets
    count tables (full outer, not left: target-only buckets must count
    toward p_tot even though they can never be looked up), aggregated
    once and cross-joined back as a 1-row broadcast. The target sample
    (small by definition) pays the same explode. No collect, no
    Python, no global sort. Returns (id_col, logw_micro LONG).
    """
    raw = _dsir_buckets(docs, n_buckets, id_col, text_col)
    tgt = _dsir_buckets(target, n_buckets, id_col, text_col)
    q = raw.groupBy("bucket").agg(F.count(F.lit(1)).alias("q_cnt"))
    p = tgt.groupBy("bucket").agg(F.count(F.lit(1)).alias("p_cnt"))
    qp = q.join(p, "bucket", "full")
    totals = F.broadcast(
        qp.agg(
            F.sum("q_cnt").alias("q_tot"), F.sum("p_cnt").alias("p_tot")
        )
    )
    ratio = (
        qp.filter(F.col("q_cnt").isNotNull())
        .crossJoin(totals)
        .select(
            "bucket",
            F.floor(
                F.log(
                    (F.coalesce(F.col("p_cnt"), F.lit(0)) + F.lit(1.0))
                    * (F.col("q_tot") + F.lit(float(n_buckets)))
                    / (
                        (F.col("q_cnt") + F.lit(1.0))
                        * (
                            F.coalesce(F.col("p_tot"), F.lit(0))
                            + F.lit(float(n_buckets))
                        )
                    )
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    return (
        raw.join(F.broadcast(ratio), "bucket")
        .groupBy("_id")
        .agg(F.sum("lr_micro").cast("long").alias("logw_micro"))
        .select(F.col("_id").alias(id_col), "logw_micro")
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR selection: Gumbel-top-k resampling over dsir_weights —
    draw k docs WITHOUT replacement with probability ∝ w(x), the
    paper's resampling step, derandomized the house way: the Gumbel
    noise g = −ln(−ln(u)) uses u = (h32('dsir|'+id)+0.5)/2^32 (the
    +0.5 keeps u strictly inside (0,1); the 'dsir|' salt decorrelates
    from every other sampler's keep rule on the same ids), quantized
    to micros with the same half-away rule as the weights, so
    key = logw_micro + g_micro is an exact integer on both engines.

    Selection is orderBy(key desc, id asc).limit(k) — Spark plans
    TakeOrderedAndProject (per-partition top-k, k-row merge), never a
    global sort; the oracle is the literal ORDER BY ... LIMIT k.
    Returns (id_col, logw_micro, key_micro), the selected k."""
    from warp_pipe_spark.datapipe.text import h32

    w = dsir_weights(docs, target, n_buckets, id_col, text_col)
    u = (
        h32(F.concat(F.lit("dsir|"), F.col(id_col).cast("string")))
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    g_micro = F.floor(-F.log(-F.log(u)) * 1_000_000 + F.lit(0.5)).cast(
        "long"
    )
    return (
        w.select(
            id_col,
            "logw_micro",
            (F.col("logw_micro") + g_micro).alias("key_micro"),
        )
        .orderBy(F.col("key_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


def unimax_allocation(
    masses: dict, budget: int, max_epochs: int = 4
) -> dict:
    """UniMax budget allocation (Chung et al., ICLR 2023): distribute
    a total token `budget` across groups as UNIFORMLY as possible,
    except no group repeats more than `max_epochs` times — the fairer
    successor to temperature sampling for multilingual mixes (temp
    sampling still starves the tail and over-epochs the smallest
    corpora; UniMax caps epochs explicitly and splits the rest
    evenly). Dual of temperature_mix's water-filling: there shares are
    ∝ mass^alpha capped at 1 epoch; here shares are EQUAL capped at
    `max_epochs` epochs.

    Exact integer arithmetic end to end (the replay contract): groups
    ascend by (cap, group) where cap = mass·max_epochs; each takes
    min(cap, remaining // n_remaining). Processing in ascending-cap
    order makes the greedy loop exactly the capped-uniform
    water-filling fixpoint (a group that caps frees budget only for
    LATER, larger groups). Floor-division dust stays unallocated —
    deterministic, and ≤ n_groups tokens. Returns
    {group: epochs_micro} with epochs_micro = alloc·1e6 // mass
    (a 2.5-epoch group reads 2_500_000)."""
    if budget < 0:
        raise ValueError(f"unimax budget must be >= 0, got {budget}")
    if max_epochs < 1:
        # epochs < 1 is temperature/budget territory (every group
        # capped below one pass); a 0 cap here would silently allocate
        # nothing and a fractional cap would break the integer contract
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    items = sorted(
        (int(n) * max_epochs, g, int(n)) for g, n in masses.items()
    )
    remaining = int(budget)
    n_rem = len(items)
    out = {}
    for cap, g, n in items:
        alloc = min(cap, remaining // n_rem)
        out[g] = alloc * 1_000_000 // max(n, 1)
        remaining -= alloc
        n_rem -= 1
    return out


def unimax_sample(
    docs: DataFrame,
    budget: int,
    max_epochs: int = 4,
    group_col: str = "source",
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """UniMax mixture sampling over a corpus: compute the epoch-capped
    uniform allocation (unimax_allocation) from per-group token
    masses, then materialize it per document as `n_copies` — full
    epochs copy every doc, the fractional epoch keeps a
    hash-thresholded subset (u = h32('unimax|'+id) % 1e6 <
    epochs_micro % 1e6 — the house derandomized sampler, salted so it
    is independent of every other sampler's keep rule on the same
    ids). A data loader repeats each doc n_copies times; docs with
    n_copies = 0 are dropped from the output.

    Shape at scale: the temperature_mix shape exactly — one groupBy
    for |groups| masses (driver math on that tiny dict), then a
    broadcast-joined stateless filter; the corpus never shuffles.
    Returns the kept docs with (epochs_micro, n_copies) for
    auditability. NULL weights/groups are excluded before the budget
    math (the temperature_mix contract)."""
    from warp_pipe_spark.datapipe.text import h32

    spark = docs.sparkSession
    docs = docs.filter(
        F.col(weight_col).isNotNull() & F.col(group_col).isNotNull()
    )
    masses = (
        docs.groupBy(group_col)
        .agg(F.sum(F.col(weight_col)).alias("mass"))
        .collect()
    )
    epochs = unimax_allocation(
        {r[group_col]: r["mass"] for r in masses}, budget, max_epochs
    )
    rate_df = F.broadcast(
        spark.createDataFrame(
            [(g, int(e)) for g, e in epochs.items()],
            f"{group_col} STRING, epochs_micro LONG",
        )
    )
    frac_keep = (
        h32(F.concat(F.lit("unimax|"), F.col(id_col).cast("string")))
        % 1_000_000
        < F.col("epochs_micro") % 1_000_000
    )
    return (
        docs.join(rate_df, group_col)
        .withColumn(
            "n_copies",
            # integer `div`, never float `/`+cast: double division of
            # a micro count can land one ulp under an exact integer
            # and truncate a whole epoch away
            F.expr("epochs_micro div 1000000")
            + F.when(frac_keep, F.lit(1)).otherwise(F.lit(0)),
        )
        .filter(F.col("n_copies") > 0)
    )


def build_dsir_index(
    docs: DataFrame,
    target: DataFrame,
    path: str,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the DSIR log-ratio table at `<path>/ratio`, with
    n_buckets in the index manifest — the train/serve split the
    persisted IVF and MinHash indexes already have: the two corpus
    passes (raw + target bucket counts) run ONCE batch-side, and any
    later batch (a streaming foreachBatch micro-batch, a new crawl
    snapshot) scores against the frozen table with a stateless
    broadcast join (dsir_score_indexed), never re-reading the corpus.

    Unlike dsir_weights' internal table (raw-observed buckets only —
    total for corpus self-scoring by construction), the persisted
    table covers the FULL bucket domain 0..n_buckets-1: a served doc
    can present ngrams the build corpus never saw, and those buckets
    must score with the correct Laplace-smoothed ratio (q_cnt = 0)
    instead of silently dropping from the sum. ≤ n_buckets rows —
    tiny at any corpus scale. The same pinned-operation-order ln and
    half-away micro rounding as dsir_weights, so scoring the build
    corpus through the index replays dsir_weights bit-for-bit
    (pinned in tests)."""
    spark = docs.sparkSession
    raw = _dsir_buckets(docs, n_buckets, id_col, text_col)
    tgt = _dsir_buckets(target, n_buckets, id_col, text_col)
    q = raw.groupBy("bucket").agg(F.count(F.lit(1)).alias("q_cnt"))
    p = tgt.groupBy("bucket").agg(F.count(F.lit(1)).alias("p_cnt"))
    domain = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    qp = domain.join(q, "bucket", "left").join(p, "bucket", "left")
    totals = F.broadcast(
        qp.agg(
            F.sum("q_cnt").alias("q_tot"), F.sum("p_cnt").alias("p_tot")
        )
    )
    ratio = (
        qp.crossJoin(totals)
        .select(
            "bucket",
            F.floor(
                F.log(
                    (F.coalesce(F.col("p_cnt"), F.lit(0)) + F.lit(1.0))
                    * (
                        F.coalesce(F.col("q_tot"), F.lit(0))
                        + F.lit(float(n_buckets))
                    )
                    / (
                        (F.coalesce(F.col("q_cnt"), F.lit(0)) + F.lit(1.0))
                        * (
                            F.coalesce(F.col("p_tot"), F.lit(0))
                            + F.lit(float(n_buckets))
                        )
                    )
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    write_index(path, "dsir", {"n_buckets": n_buckets}, {"ratio": (ratio, ())})


def dsir_score_indexed(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score a batch against a persisted DSIR index: stateless — one
    explode of the BATCH, one broadcast join against the ≤n_buckets
    ratio table, one batch-keyed aggregate. n_buckets comes from the
    index manifest, and no Spark job runs before the caller's action.
    Returns (id_col, logw_micro); fit for foreachBatch ingest gating
    (filter on logw_micro ≥ threshold) the way the quality-gate and
    ingest-dedup sinks consume their frozen models."""
    params, read = open_index(spark, path, "dsir")
    return dsir_score_against(
        batch, read("ratio"), params["n_buckets"], id_col, text_col
    )


def dsir_score_against(
    batch: DataFrame,
    ratio: DataFrame,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score a batch against an ALREADY-LOADED ratio table — the
    long-lived-sink path (DsirGateSink opens the index once at
    construction instead of per micro-batch). dsir_score_indexed is the
    one-shot wrapper."""
    b = _dsir_buckets(batch, n_buckets, id_col, text_col)
    return (
        b.join(F.broadcast(ratio), "bucket")
        .groupBy("_id")
        .agg(F.sum("lr_micro").cast("long").alias("logw_micro"))
        .select(F.col("_id").alias(id_col), "logw_micro")
    )
