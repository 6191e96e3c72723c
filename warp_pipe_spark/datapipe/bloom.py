"""Bloom-filter membership gate — the exact-key dedup pre-filter a
large-scale ingest pipeline runs BEFORE fuzzy dedup (URL-level and
fingerprint-level dedup of incremental crawls: CCNet/Dolma-style
"have we seen this key already?"). Fuzzy near-dup (MinHash index,
SimHash) answers a different question and costs a shuffle; the bloom
gate answers the exact-membership one with a map-side probe.

Spark-first shape: the filter is BUILT distributed (explode k bit
positions per key, distinct, pack into 64-bit words with a bit_or
aggregate — every stage map-side-combinable) and PROBED two ways:

  - `bloom_gate` (pure DataFrame): the batch explodes to k
    (word_idx, mask) probes, broadcast-joins the packed word table,
    and a key-keyed count(matched) == k decides. No UDF, no driver
    state. It is the REFERENCE path only: the property tests pin the
    packed probe's verdicts to it, and no production gate calls it.
  - `bloom_gate_packed` (mapInPandas), the one production probe
    (`bloom_gate_verified`, ingest.BloomGateSink, curate stage 0):
    the word table is materialized ONCE into an m_bits/8-byte numpy
    bitmap — bounded BY CONSTRUCTION by the `m_bits` parameter, which
    is the bloom filter's memory contract, NOT data-dependent driver
    state — and broadcast; each Arrow batch then probes locally with
    zero joins and zero shuffles. This is the 100 TB path: a 2^30-bit
    filter is a 128 MB broadcast, and the petabyte-scale batch side
    never shuffles.

No false negatives ever (every reference key probes true); false
positives at the textbook rate ≈ (1 − e^{−kn/m})^k, so a positive is
a CANDIDATE — `bloom_gate_verified` exact-semi-joins only the flagged
subset against the reference to remove them, which is the whole
economy: the exact join runs on |flagged| ≈ dup_rate·|batch| rows
instead of |batch|.

Determinism (oracle-replayable): bit_j(key) = h32('bloom<j>|' + key)
% m_bits — the house md5-derived h32 (text.h32), replayed in DuckDB
as ('0x' || substr(md5(...), 1, 8))::BIGINT, and in the packed probe
with hashlib.md5 over the identical strings. The packed-word table
and the bit-position set are the same object by construction, so the
DuckDB replica probes the position set directly.

Persistence: write_bloom stores the word table at `<index>/words` and
m_bits/k_hashes in the index manifest (io.write_index); read_bloom
opens it with no Spark job, and update_bloom appends under the
manifest's parameters.

Reference parity: the reference engine has no bloom surface; this is
part of the driver-mandated large-scale-pipeline inventory (same
family as dedup_index's streaming MinHash gate).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp_pipe_spark.datapipe.text import h32
from warp_pipe_spark.io import explode_nonnull, open_index, write_index

# packed bitmap caps at 2 GiB (2^34 bits); h32 is a 32-bit hash so m
# beyond 2^32 would leave the top of the filter permanently unset
_MAX_M_BITS = 1 << 32


def _check_params(m_bits: int, k_hashes: int) -> None:
    if not 64 <= m_bits <= _MAX_M_BITS:
        raise ValueError(
            f"m_bits out of [64, 2^32]: {m_bits} (h32 is 32-bit; a "
            "larger filter would never set its top bits)"
        )
    if not 1 <= k_hashes <= 16:
        raise ValueError(f"k_hashes out of [1, 16]: {k_hashes}")


def _bit_cols(key, m_bits: int, k_hashes: int):
    """The k bit positions of one key column, as an array column."""
    return F.array(
        *[
            h32(F.concat(F.lit(f"bloom{j}|"), key.cast("string"))) % m_bits
            for j in range(k_hashes)
        ]
    )


def bloom_bits(
    keys: DataFrame,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Distinct set-bit positions of the filter over `keys[key_col]`
    (NULL keys excluded): one explode + one distinct — the canonical
    (unpacked) form the DuckDB oracle probes directly. Returns
    (bit BIGINT)."""
    _check_params(m_bits, k_hashes)
    return (
        explode_nonnull(
            keys.filter(F.col(key_col).isNotNull()),
            _bit_cols(F.col(key_col), m_bits, k_hashes),
            "bit",
        )
        .select("bit")
        .distinct()
    )


def pack_bloom(bits: DataFrame) -> DataFrame:
    """Pack bit positions into 64-bit words: (word_idx BIGINT,
    word BIGINT) with word = bit_or of 1 << (bit % 64). Algebraic
    aggregate — map-side partial, one shuffle keyed by word_idx, at
    most m_bits/64 output rows (only non-zero words emitted)."""
    return (
        bits.select(
            F.expr("bit div 64").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").alias(
                "m"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("m").alias("word"))
    )


def build_bloom(
    keys: DataFrame,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """bloom_bits → pack_bloom: the packed word table for the two
    probe paths. write_bloom persists it with its parameters; rebuild
    is one linear pass over the reference keys."""
    return pack_bloom(bloom_bits(keys, key_col, m_bits, k_hashes))


def bloom_gate(
    batch: DataFrame,
    words: DataFrame,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Pure-DataFrame probe: adds `maybe_member` to `batch`. The batch
    explodes to k (word_idx, mask) probes, broadcast-joins the packed
    word table, and maybe_member = every probe found its bit set
    (count(matched) == k — no false negatives by construction). NULL
    keys gate to false (a NULL key is never a member). The batch is
    exploded k× but the join is map-side (broadcast) and the
    count-back groupBy is keyed by the batch key — one shuffle of k×
    the BATCH, never of the reference."""
    _check_params(m_bits, k_hashes)
    # distinct keys first: a key appearing twice in the batch would
    # otherwise contribute 2k probe rows and count(hit) == k could
    # never hold for it
    probes = (
        explode_nonnull(
            batch.select(key_col).distinct(),
            _bit_cols(F.col(key_col), m_bits, k_hashes),
            "bit",
        )
        .select(
            key_col,
            F.expr("bit div 64").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))"
            ).alias("m"),
        )
    )
    hit = (
        probes.join(F.broadcast(words), "word_idx", "left")
        .select(
            key_col,
            (
                F.col("word").isNotNull()
                & (F.col("word").bitwiseAND(F.col("m")) != 0)
            ).alias("hit"),
        )
        .groupBy(key_col)
        .agg((F.count(F.when(F.col("hit"), 1)) == k_hashes).alias("maybe_member"))
    )
    # the verdict join-back is a real join (SMJ once the key set
    # outgrows broadcast) — inherent to returning per-row verdicts
    # from a key-keyed aggregate; at batch sizes where that shuffle
    # matters, bloom_gate_packed is the right path (zero shuffles)
    return batch.join(hit, key_col, "left").withColumn(
        "maybe_member", F.coalesce("maybe_member", F.lit(False))
    )


def packed_bitmap(words: DataFrame, m_bits: int):
    """Materialize the packed word table into the m_bits/8-byte numpy
    bitmap the map-side probe reads. toLocalIterator keeps peak driver
    memory at the bitmap itself (plus one Arrow batch), never the full
    row list; the size is bounded by the m_bits PARAMETER — the bloom
    filter's declared memory budget — independent of data size."""
    import numpy as np

    n_words = (m_bits + 63) // 64
    bitmap = np.zeros(n_words, dtype=np.uint64)
    for row in words.toLocalIterator():
        if row["word_idx"] >= n_words:
            raise ValueError(
                f"word_idx {row['word_idx']} outside a {m_bits}-bit "
                "filter — the word table was built with a larger "
                "m_bits than the probe was given (use write_bloom/"
                "read_bloom so the parameters travel with the index)"
            )
        bitmap[row["word_idx"]] |= np.uint64(row["word"] & 0xFFFFFFFFFFFFFFFF)
    return bitmap


def write_bloom(
    keys: DataFrame,
    path: str,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> None:
    """Build AND persist: `<path>/words` holds the packed word table,
    and the index manifest (io.write_index) holds m_bits and k_hashes.
    The parameters TRAVEL WITH the index — a probe re-supplying
    different values would either silently false-negative (smaller m
    at probe time: bits land at different positions) or crash (larger
    stored m: word_idx past the bitmap), so read_bloom is the only
    sanctioned way to open a persisted filter."""
    words = build_bloom(keys, key_col, m_bits, k_hashes)
    params = {"m_bits": m_bits, "k_hashes": k_hashes}
    write_index(path, "bloom", params, {"words": (words, ())})


def read_bloom(spark, path: str):
    """Open a persisted filter with no Spark job: returns (words
    DataFrame, m_bits, k_hashes) with the manifest's build-time
    parameters, to be passed verbatim to the probes. Appended batches
    (update_bloom) leave duplicate word_idx rows in the words dataset;
    they OR together here with one bit_or aggregate over the
    ≤ m_bits/64-row table, so both probe paths see a unique-word
    frame."""
    params, read = open_index(spark, path, "bloom")
    words = read("words").groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    return words, params["m_bits"], params["k_hashes"]


def update_bloom(
    new_keys: DataFrame, path: str, batch_id: int, key_col: str = "key"
) -> None:
    """Append ingest batch `batch_id`'s keys into a persisted filter as
    one generation (io.write_index: an id at or below the manifest's
    mark is a no-op) — the bloom twin of update_minhash_index /
    update_ivf_index / update_text_index. Bloom bits are pure-UNION
    state (no deletes, no counts), so maintenance is a parquet append
    of the batch's packed words: duplicate word_idx rows across
    appends OR together at open time (read_bloom's one bit_or
    aggregate). Cost ∝
    |batch|·k_hashes; the reference key set is never re-read. The
    build-time m_bits/k_hashes come from the index manifest — a batch
    can never be hashed under a different geometry than the build."""
    params, _ = open_index(new_keys.sparkSession, path, "bloom")
    words = build_bloom(new_keys, key_col, params["m_bits"], params["k_hashes"])
    write_index(path, "bloom", params, {"words": (words, ())}, batch_id)


def bloom_gate_packed(
    batch: DataFrame,
    words,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Map-side probe: the packed word table materializes once into an
    m_bits/8-byte numpy bitmap, broadcasts, and every Arrow batch
    probes locally. ZERO joins and zero shuffles on the batch side —
    the plan is scan → mapInPandas. Same verdicts as bloom_gate
    (pytest-pinned): hashlib.md5 over 'bloom<j>|<key>' replays h32
    exactly.

    `words` may be the packed-word DataFrame, a prebuilt
    packed_bitmap ndarray, or an existing pyspark Broadcast of one —
    long-lived callers (BloomGateSink) broadcast ONCE at construction
    instead of leaking one broadcast per micro-batch.

    Hash-parity note: the key is rendered to a STRING by Spark's own
    CAST in a JVM column BEFORE mapInPandas, and the probe hashes that
    string verbatim. Hashing the raw pandas value instead was a
    confirmed false-negative bug: one NULL in an Arrow batch coerces
    an int64 key column to float64, so every key in that batch
    formats as '123.0' while the filter was built from '123' — and
    booleans/floats render differently in Python vs Spark even
    without NULLs. The string column keeps dtype=object with None for
    NULL, immune to coercion (regression-pinned with a single-
    partition NULL+int batch in tests)."""
    _check_params(m_bits, k_hashes)
    import numpy as np
    from pyspark.broadcast import Broadcast

    spark = batch.sparkSession
    if isinstance(words, Broadcast):
        bc = words
    elif isinstance(words, np.ndarray):
        bc = spark.sparkContext.broadcast(words)
    else:
        bc = spark.sparkContext.broadcast(packed_bitmap(words, m_bits))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields
    ) + ", maybe_member boolean"
    key_str = "__wp_bloom_key_str"
    tagged = batch.withColumn(key_str, F.col(key_col).cast("string"))

    def probe(it: Iterator) -> Iterator:
        from warp_pipe_spark.datapipe.text import h32_py

        bm = bc.value
        for pdf in it:
            verdicts = []
            for val in pdf[key_str]:
                if val is None:
                    verdicts.append(False)
                    continue
                ok = True
                for j in range(k_hashes):
                    bit = h32_py(f"bloom{j}|{val}") % m_bits
                    if not (bm[bit // 64] >> np.uint64(bit % 64)) & np.uint64(1):
                        ok = False
                        break
                verdicts.append(ok)
            pdf = pdf.drop(columns=[key_str])
            pdf["maybe_member"] = verdicts
            yield pdf

    return tagged.mapInPandas(probe, out_schema)


def bloom_gate_verified(
    batch: DataFrame,
    words,
    ref_keys: DataFrame,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """The complete dedup gate: bloom-probe the batch with the packed
    probe, then exact LEFT SEMI join ONLY the flagged subset against
    the reference keys to strip false positives. Adds `is_member`
    (exact); `words` takes anything bloom_gate_packed takes. The
    economy: the join input is |flagged| ≈ dup_rate·|batch| + fp_rate·|batch|
    rows, not |batch| — at a 1% dup rate the shuffle is ~50× smaller
    than joining the raw batch."""
    gated = bloom_gate_packed(batch, words, key_col, m_bits, k_hashes)
    # distinct flagged keys: the confirm frame must stay one row per
    # key or the join-back would fan out duplicate batch rows
    flagged = gated.filter(F.col("maybe_member")).select(key_col).distinct()
    confirmed = flagged.join(
        ref_keys.select(F.col(key_col)).distinct(), key_col, "left_semi"
    ).select(key_col, F.lit(True).alias("is_member"))
    return (
        gated.join(confirmed, key_col, "left")
        .withColumn("is_member", F.coalesce("is_member", F.lit(False)))
    )
