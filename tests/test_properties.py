"""Property-based tests (hypothesis): operator invariants that must
hold for ARBITRARY inputs, not just the driver's clean synthetic data.

Each property batches all hypothesis examples into ONE DataFrame and a
single Spark action — per-example Spark jobs would make shrinking
unusably slow.
"""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from warp_pipe_spark.apply import replay
from warp_pipe_spark.changeset import normalize_kind
from warp_pipe_spark.datapipe.text import _tokens, shingles

# text with realistic hazards: runs of spaces, tabs, newlines, empties
_texts = st.text(
    alphabet=st.sampled_from(list("ab x") + [" ", "\t", "\n"]),
    min_size=0,
    max_size=40,
)


@settings(max_examples=20, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=8), st.integers(2, 4))
def test_shingles_equal_slice_spec_for_arbitrary_text(spark, texts, n):
    """The fast regex path + fallbacks must equal the slice+concat_ws
    SPEC (what the DuckDB oracles compute) for any input text."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    toks = _tokens(F.col("text"))
    spec = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    bad = df.select(
        "text", (shingles(F.col("text"), n) == spec).alias("eq")
    ).filter(~F.col("eq"))
    rows = bad.collect()
    assert not rows, f"n={n} mismatches: {[r['text'] for r in rows]!r}"


_kinds = st.one_of(
    st.sampled_from(
        ["INSERT", "insert", "Update", "UPDATE", "delete", "DELETE", "", "truncate", "bogus"]
    ),
    st.text(max_size=10),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_kinds, min_size=1, max_size=20))
def test_normalize_kind_matches_reference_enum(spark, kinds):
    """changeset.go:21-33 semantics: case-insensitive member of
    {insert, update, delete}, anything else -> empty string — except
    `truncate`, preserved since r11 (the reference never sees
    truncates; our pgoutput source emits them, and blanking one lets
    the apply path fold a table clear as an upsert-shaped no-op)."""
    df = spark.createDataFrame([(k,) for k in kinds], "k STRING")
    got = [r["n"] for r in df.select(normalize_kind("k").alias("n")).collect()]
    want = [
        k.lower()
        if k.lower() in ("insert", "update", "delete", "truncate", "message")
        else ""
        for k in kinds
    ]
    assert got == want


_actions = st.sampled_from(["INSERT", "UPDATE", "DELETE"])


@st.composite
def _logs(draw):
    n = draw(st.integers(1, 25))
    rows = []
    for i in range(n):
        rows.append(
            (
                i + 1,  # id: unique, increasing
                draw(_actions),
                "t",
                draw(st.integers(0, 5)),  # pk: few keys -> real conflicts
                draw(st.text(alphabet="xyz", min_size=0, max_size=3)),
            )
        )
    return rows


@pytest.mark.soak
@settings(max_examples=15, deadline=None)
@given(_logs())
def test_replay_idempotent_under_duplicate_delivery(spark, rows):
    """At-least-once tolerance (O4/A1-A3): replay(log ++ log) ==
    replay(log), and the survivor per pk is the max-id non-DELETE."""
    schema = "id LONG, action STRING, table_name STRING, pk LONG, val STRING"
    log = spark.createDataFrame(rows, schema)
    once = sorted(map(tuple, replay(log, ["pk"]).collect()))
    twice = sorted(map(tuple, replay(log.unionByName(log), ["pk"]).collect()))
    assert once == twice

    # oracle in plain python: last writer wins, deletes tombstone
    last = {}
    for rid, action, _t, pk, val in sorted(rows):
        last[pk] = (rid, action, val)
    want = sorted(
        (rid, action, "t", pk, val)
        for pk, (rid, action, val) in last.items()
        if action != "DELETE"
    )
    got = sorted(
        (r["id"], r["action"], r["table_name"], r["pk"], r["val"])
        for r in replay(log, ["pk"]).collect()
    )
    assert got == want


_kinds_or_null = st.sampled_from(
    ["insert", "update", "delete", "INSERT", "UPDATE", "DELETE", None]
)


@st.composite
def _keyed_logs(draw):
    """A changeset log over two tables keyed by a composite pk (pk, pk2),
    either part possibly NULL, with NULL kinds and both delete
    spellings. Some changesets are redelivered (same id, same row) and
    the log arrives shuffled, so one key's inserts, updates and deletes
    interleave."""
    rows = [
        (
            i,
            draw(_kinds_or_null),
            draw(st.sampled_from(["users", "pets"])),
            draw(st.one_of(st.none(), st.integers(0, 3))),
            draw(st.one_of(st.none(), st.sampled_from(["a", "b"]))),
            draw(st.text(alphabet="xyz", max_size=3)),
        )
        for i in range(1, draw(st.integers(0, 30)) + 1)
    ]
    redelivered = draw(st.lists(st.sampled_from(rows), max_size=5)) if rows else []
    return draw(st.permutations(rows + redelivered))


@settings(max_examples=30, deadline=None)
@given(_keyed_logs())
def test_arrow_fold_equals_replay(spark, rows):
    """apply._replay_arrow, the state sink's compaction fold, returns
    exactly the rows of apply.replay, the reference last-writer-wins
    fold, with delete tombstones kept, on any log: NULL pk parts are one
    key, a NULL kind is no delete, and a redelivered changeset applies
    once."""
    from collections import Counter

    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from warp_pipe_spark.apply import _replay_arrow

    schema = T.StructType.fromDDL(
        "id LONG, action STRING, table_name STRING, pk LONG, pk2 STRING, val STRING"
    )
    log = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema)
    )
    got = Counter(tuple(r.values()) for r in _replay_arrow(log, ["pk", "pk2"]).to_pylist())
    want = Counter(
        map(tuple, replay(
            spark.createDataFrame(rows, schema), ["pk", "pk2"], drop_deletes=False
        ).collect())
    )
    assert got == want


def test_gopher_rules_hand_computed(spark):
    """Hand-verifiable doc: 4 words, 'x' repeated twice, one dup 2-gram
    source; micro-fractions are exact integer division."""
    from warp_pipe_spark.datapipe.text import gopher_rules

    docs = spark.createDataFrame(
        [(1, "x y x z"), (2, " ".join(["w"] * 60))],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in gopher_rules(docs).collect()}

    d1 = got[1]  # words: x y x z → 4 words, 3 distinct, top 'x'=2
    assert d1["n_words"] == 4 and d1["n_distinct_words"] == 3
    assert d1["mean_word_len_micro"] == 1_000_000  # all 1-char words
    assert d1["top_word_frac_micro"] == 500_000  # 2/4
    # 2-grams: [x y, y x, x z] — all distinct
    assert d1["dup_2gram_frac_micro"] == 0
    assert not d1["keep"]  # fails min_words and mean_word_len

    d2 = got[2]  # 60 × 'w': passes length gate, fails repetition gates
    assert d2["n_words"] == 60 and d2["top_word_frac_micro"] == 1_000_000
    # 59 2-grams, all identical → 58 duplicates
    assert d2["dup_2gram_frac_micro"] == (58 * 1_000_000) // 59
    assert not d2["keep"]


def test_pii_scrub_hand_computed(spark):
    """Each PII category is counted against the ORIGINAL text and
    replaced with its placeholder; non-PII text is untouched."""
    from warp_pipe_spark.datapipe.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a.b@x.co and c@y.org now"),
            (2, "call +1-555-123-4567 from 10.0.0.1 ok"),
            (3, "clean text only"),
            (4, "dotted 999.999.999.999 stays an ip shape"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_phone"] == 0
    assert got[1]["text"] == "mail [EMAIL] and [EMAIL] now"
    assert got[2]["n_phone"] == 1 and got[2]["n_ipv4"] == 1
    assert got[2]["text"] == "call [PHONE] from [IP] ok"
    assert got[3]["text"] == "clean text only"
    assert (got[3]["n_email"], got[3]["n_phone"], got[3]["n_ipv4"]) == (0, 0, 0)
    # the pattern is shape-based (1-3 digit groups), not value-validated
    assert got[4]["n_ipv4"] == 1


def test_unigram_lm_hand_computed(spark):
    """Corpus tf: a=3, b=2, c=1; per-doc sums/mins/rare counts exact."""
    from warp_pipe_spark.datapipe.text import unigram_lm

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id LONG, text STRING"
    )
    got = {r["doc_id"]: r for r in unigram_lm(docs, rare_max_tf=1).collect()}
    assert got[1]["n_tokens"] == 3 and got[1]["sum_tf"] == 3 + 3 + 2
    assert got[1]["min_tf"] == 2 and got[1]["n_rare"] == 0
    assert got[2]["sum_tf"] == 3 + 2 + 1 and got[2]["min_tf"] == 1
    assert got[2]["n_rare"] == 1  # 'c' has corpus tf 1


def test_bpe_pairs_hand_computed(spark):
    """'ab ab cd' + 'ab': pair 'ab' has weight 3 (word freq), 'cd' 1;
    single-char words contribute nothing."""
    from warp_pipe_spark.datapipe.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "ab ab cd x"), (2, "ab abc")], "doc_id LONG, text STRING"
    )
    got = [(r["rank"], r["pair"], r["n"]) for r in bpe_pair_counts(docs).collect()]
    # word counts: ab=3, cd=1, x=1, abc=1 → pairs: ab:3+1, bc:1, cd:1
    assert got == [(1, "ab", 4), (2, "bc", 1), (3, "cd", 1)]


def test_gopher_rules_keep_on_realistic_doc(spark, sf_dir):
    """The synthetic corpus is normal prose-shaped: most docs pass."""
    from warp_pipe_spark.datapipe.text import gopher_rules
    from warp_pipe_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = gopher_rules(docs)
    n = out.count()
    kept = out.filter("keep").count()
    assert n == docs.count()
    assert kept > 0  # the gate is a filter, not a wall


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_codec_roundtrip_property(w, h, seed):
    """encode∘decode = identity for ARBITRARY pixel contents and every
    stride-padding remainder — driver-only, no Spark jobs."""
    import numpy as np

    from warp_pipe_spark.datapipe.multimodal import bmp_decode, bmp_encode

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (bmp_decode(bmp_encode(img)) == img).all()


@settings(max_examples=60, deadline=None)
@given(n=st.integers(0, 400), seed=st.integers(0, 2**31 - 1))
def test_wav_codec_roundtrip_property(n, seed):
    """encode∘decode = identity for arbitrary int16 signals, including
    empty and odd-length data chunks (RIFF word alignment)."""
    import numpy as np

    from warp_pipe_spark.datapipe.multimodal import wav_decode, wav_encode

    rng = np.random.RandomState(seed)
    s = rng.randint(-32768, 32768, size=n, dtype=np.int16)
    rate, back = wav_decode(wav_encode(s, sample_rate=16000))
    assert rate == 16000 and (back == s).all()


@pytest.mark.soak
@settings(max_examples=10, deadline=None)
@given(_logs(), st.integers(1, 4))
def test_merge_sink_any_batch_split_converges_to_replay(spark, rows, n_batches):
    """MergeStateSink invariant: for ANY partition of an in-order log
    into micro-batches, the id-guarded MERGE fold converges to the
    one-shot replay — the same contract ParquetStateSink proves with
    its pointer, here proven for the MERGE conditions themselves."""
    from warp_pipe_spark.merge_sink import InMemoryMergeExecutor, MergeStateSink

    schema = "id LONG, action STRING, table_name STRING, pk LONG, val STRING"
    sink = MergeStateSink(spark, InMemoryMergeExecutor(spark), pk_cols=["pk"])
    size = max(1, len(rows) // n_batches)
    for i, start in enumerate(range(0, len(rows), size)):
        sink.apply_batch(
            spark.createDataFrame(rows[start : start + size], schema), i
        )
    state = sink.read_state()
    got = sorted(map(tuple, state.collect())) if state is not None else []
    log = spark.createDataFrame(rows, schema)
    want = sorted(map(tuple, replay(log, ["pk"]).collect()))
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(1, 40), min_size=1, max_size=30),
    st.integers(2, 30),
    st.integers(1, 4),
)
def test_pack_chunks_partitions_the_stream_for_any_corpus(
    spark, token_counts, chunk_tokens, n_shards
):
    """For ANY doc-length distribution, packing must tile each shard's
    token stream exactly: starts are contiguous per shard, chunk spans
    are the integer-division images of the token span."""
    from warp_pipe_spark.datapipe.sampling import pack_chunks

    rows = [(i, " ".join(["w"] * c)) for i, c in enumerate(token_counts)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = pack_chunks(docs, chunk_tokens=chunk_tokens, n_shards=n_shards).collect()
    assert len(out) == len(rows)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows_ in by_shard.values():
        rows_.sort(key=lambda r: r["tok_start"])
        pos = 0
        for r in rows_:
            assert r["tok_start"] == pos
            pos += r["n_tokens"]
            assert r["chunk_first"] == r["tok_start"] // chunk_tokens
            assert r["chunk_last"] == (r["tok_start"] + r["n_tokens"] - 1) // chunk_tokens


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=40),
    st.floats(0.05, 1.0),
)
def test_stratified_sample_exact_ceil_for_any_strata(spark, strata, fraction):
    """Exactly ceil(fraction * n_s) rows per stratum, for ANY stratum
    size distribution and fraction."""
    import math

    from warp_pipe_spark.datapipe.sampling import stratified_sample

    rows = [(i, f"text {i}", s) for i, (s) in enumerate(strata)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    out = stratified_sample(docs, "source", "doc_id", fraction=fraction).collect()
    want = {}
    for s in strata:
        want[s] = want.get(s, 0) + 1
    got = {}
    for r in out:
        got[r["stratum"]] = got.get(r["stratum"], 0) + 1
        assert r["stratum_size"] == want[r["stratum"]]
    assert got == {s: math.ceil(fraction * n) for s, n in want.items()}


@settings(max_examples=15, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=6))
def test_quality_model_score_matches_python_replay(spark, texts):
    """The zero-shuffle fold must equal an independent md5-based Python
    replay of the weight contract for ARBITRARY text (including runs
    of whitespace, empties, newlines — the splitter's edge cases)."""
    import hashlib

    from warp_pipe_spark.datapipe.text import quality_model_score

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {r["doc_id"]: (r["n_tokens"], r["score_sum"], r["keep"])
           for r in quality_model_score(df).collect()}

    def w(tok: str) -> int:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096
        return ((b + 1) * 2654435761) % 1000001 - 500000

    for i, t in enumerate(texts):
        toks = t.split(" ")  # exact F.split semantics incl. empties
        s = sum(w(x) for x in toks)
        assert got[i] == (len(toks), s, s > 0), (t, got[i])


@settings(max_examples=10, deadline=None)
@given(
    st.integers(2, 10),   # chunk_tokens
    st.integers(1, 10),   # stride (may exceed chunk: gaps are invalid,
                          # so clamp below)
)
@pytest.mark.soak
def test_chunk_overlap_membership_invariants(spark, chunk, stride):
    """For ANY (chunk, stride <= chunk): every stream position is
    covered by ceil-bounded window counts, total window-token mass
    equals sum over positions of their membership counts, and
    stride == chunk degenerates to a partition of the stream."""
    stride = min(stride, chunk)
    from warp_pipe_spark.datapipe.sampling import chunk_texts_overlap, pack_chunks

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(3 + i % 5))) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = chunk_texts_overlap(
        docs, chunk_tokens=chunk, stride=stride, n_shards=2
    ).collect()
    layout = pack_chunks(docs, chunk_tokens=chunk, n_shards=2).collect()
    stream_len = {}
    for r in layout:
        stream_len[r["shard"]] = max(
            stream_len.get(r["shard"], 0), r["tok_start"] + r["n_tokens"]
        )
    # expected total mass: for each position p, #windows k with
    # k*stride <= p < k*stride + chunk and k >= 0
    for shard, n in stream_len.items():
        want_mass = 0
        for p in range(n):
            k_hi = p // stride
            k_lo = 0 if p < chunk else (p - chunk) // stride + 1
            want_mass += k_hi - k_lo + 1
        got_rows = [r for r in out if r["shard"] == shard]
        assert sum(r["n_tokens"] for r in got_rows) == want_mass, (
            shard, chunk, stride
        )
        # first window exists iff the stream is non-empty
        assert any(r["chunk_id"] == 0 for r in got_rows) == (n > 0)
        if stride == chunk:
            assert sum(r["n_tokens"] for r in got_rows) == n


@pytest.mark.soak
@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 3), min_size=12, max_size=12))
def test_gate_sink_converges_for_any_batch_split(spark, tmp_path_factory, split):
    """The streaming gate must equal the batch gate for ANY partition
    of the corpus into micro-batches (per-doc gates have no cross-doc
    state to get wrong, and this pins that property under
    hypothesis-chosen splits)."""
    from warp_pipe_spark.datapipe.ingest import CorpusQualityGateSink, quality_gate

    rows = [
        (i, " ".join(f"w{i}_{j}ab" for j in range(40 + 15 * (i % 3))))
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    base = tmp_path_factory.mktemp("gate_any_split")
    sink = CorpusQualityGateSink(spark, str(base))
    import pyspark.sql.functions as F

    assign = {i: b for i, b in enumerate(split)}
    for b in sorted(set(split)):
        ids = [i for i, bb in assign.items() if bb == b]
        sink(docs.filter(F.col("doc_id").isin(ids)), b)
    want = {
        r["doc_id"] for r in quality_gate(docs).filter("keep").collect()
    }
    acc = sink.accepted()
    got = {r["doc_id"] for r in acc.collect()} if acc is not None else set()
    assert got == want


@settings(max_examples=300, deadline=None)
@given(st.floats(allow_nan=True, allow_infinity=True))
def test_pg_float_text_round_trips_float8(v):
    """_pg_float_text must emit a string PG (and Python) parse back to
    the EXACT same double — shortest-round-trip is the wire contract
    binary mode shares with the server's own Ryu output. Surface form
    (notation windows) is pinned against live PG elsewhere; this pins
    the value fidelity for arbitrary doubles."""
    import math

    from warp_pipe_spark.pgoutput import _pg_float_text

    s = _pg_float_text(v)
    if math.isnan(v):
        assert s == "NaN"
        return
    if math.isinf(v):
        assert s == ("Infinity" if v > 0 else "-Infinity")
        return
    assert float(s) == v
    # PG never prints a trailing '.0' or a one-digit exponent
    assert not s.endswith(".0")
    if "e" in s:
        assert len(s.split("e")[1].lstrip("+-")) >= 2


@settings(max_examples=300, deadline=None)
@given(st.integers(-(2**31), 2**31 - 1).map(lambda x: x / 10**4))
def test_pg_float_text_round_trips_float4(v):
    import struct

    from warp_pipe_spark.pgoutput import _pg_float_text

    f4 = struct.unpack("!f", struct.pack("!f", v))[0]
    s = _pg_float_text(f4, single=True)
    # parsing back through float4 must reproduce the same float4
    assert struct.unpack("!f", struct.pack("!f", float(s)))[0] == f4


@settings(max_examples=200, deadline=None)
@given(
    st.decimals(
        allow_nan=False,
        allow_infinity=False,
        min_value=-(10**40),
        max_value=10**40,
        places=12,
    )
)
def test_pg_numeric_binary_round_trips(d):
    """Encode a Decimal in numeric's base-10000 wire format the way
    numeric_send does, decode with _pg_numeric_text, and require the
    canonical text PG itself would print (Decimal-equal AND
    dscale-exact)."""
    import struct as _struct
    from decimal import Decimal

    from warp_pipe_spark.pgoutput import _pg_numeric_text

    sign, digits, exp = d.as_tuple()
    dscale = max(0, -exp)
    # digit string straight from the tuple: abs()/format() round
    # through the 28-digit decimal CONTEXT and can silently drop a
    # 29th significant digit (hypothesis found exactly that)
    digs = "".join(map(str, digits))
    if exp < 0:
        if len(digs) > -exp:
            ip, fp = digs[:exp], digs[exp:]
        else:
            ip, fp = "", digs.rjust(-exp, "0")
    else:
        ip, fp = digs + "0" * exp, ""
    ip = ip.lstrip("0") or ""
    # pad integer part to a multiple of 4 on the left, fraction on the
    # right
    ip_pad = ("0" * ((4 - len(ip) % 4) % 4)) + ip
    fp_pad = fp + ("0" * ((4 - len(fp) % 4) % 4))
    groups = [
        int(ip_pad[i : i + 4]) for i in range(0, len(ip_pad), 4)
    ] + [int(fp_pad[i : i + 4]) for i in range(0, len(fp_pad), 4)]
    weight = len(ip_pad) // 4 - 1 if ip else -1
    # numeric_send strips leading/trailing ZERO groups (adjusting
    # weight for leading ones)
    while groups and groups[0] == 0:
        groups.pop(0)
        weight -= 1
    while groups and groups[-1] == 0:
        groups.pop()
    if not groups:
        weight = 0
        sign = 0  # PG numeric has no negative zero on the wire
    payload = _struct.pack(
        "!hhHH", len(groups), weight, 0x4000 if sign else 0x0000, dscale
    ) + _struct.pack(f"!{len(groups)}H", *groups)
    out = _pg_numeric_text(payload)
    assert Decimal(out) == d
    # dscale governs printed fraction digits exactly
    frac = out.partition(".")[2]
    assert len(frac) == dscale


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(1, 20)),
        min_size=1,
        max_size=30,
    ),
    st.integers(0, 150),
)
@pytest.mark.soak
def test_select_token_budget_equals_global_window_spec(spark, rows, budget):
    """The two-stage bin formulation must equal the naive
    sum-over-(score DESC, doc_id) prefix rule for ARBITRARY
    score/token tables and budgets — including all-kept, all-dropped,
    and boundary-on-bin-edge cases the hand fixture can't enumerate."""
    from warp_pipe_spark.datapipe.sampling import select_token_budget

    data = [(i, s, t) for i, (s, t) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id LONG, score LONG, n_tokens LONG"
    )
    got = {
        r["doc_id"]: r["keep"]
        for r in select_token_budget(df, budget).collect()
    }
    cum, want = 0, {}
    for i, s, t in sorted(data, key=lambda r: (-r[1], r[0])):
        cum += t
        want[i] = cum <= budget
    assert got == want


@pytest.mark.soak
@settings(max_examples=10, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=6))
def test_repetition_signals_match_python_spec(spark, texts):
    """The one-explode+pivot formulation equals the per-doc spec
    computed in plain Python for arbitrary hazard texts (empty docs,
    whitespace runs, newline-only docs) — same tokenize/shingle
    semantics as the DuckDB oracles."""
    from warp_pipe_spark.datapipe.text import repetition_signals

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_signals(df).collect()
    }

    def sh(toks, n):
        if len(toks) < n:
            return [" ".join(toks)]
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    want_ids = set()
    for i, t in enumerate(texts):
        if not t:
            continue
        lines = [ln for ln in t.split("\n") if ln]
        if not lines:
            continue  # no line stats -> excluded (inner join), mirrored
        want_ids.add(i)
        row = got[i]
        n_chars = len(t)
        from collections import Counter

        lc = Counter(lines)
        n_lines = len(lines)
        assert row["n_chars"] == n_chars and row["n_lines"] == n_lines
        assert row["dup_line_frac_micro"] == (
            (n_lines - len(lc)) * 1_000_000
        ) // n_lines
        line_chars = sum(c * len(x) for x, c in lc.items())
        dup_chars = sum((c - 1) * len(x) for x, c in lc.items())
        assert row["dup_line_char_frac_micro"] == (
            (dup_chars * 1_000_000) // line_chars
            if line_chars
            else row["dup_line_char_frac_micro"]
        )
        toks = t.split(" ")
        for n in (2, 3, 4):
            gc = Counter(sh(toks, n))
            top = max(gc.items(), key=lambda kv: (kv[1], len(kv[0])))
            assert row[f"top_{n}gram_char_frac_micro"] == (
                top[1] * len(top[0]) * 1_000_000
            ) // n_chars, (i, n, t)
        for n in (5, 6, 7, 8, 9, 10):
            gc = Counter(sh(toks, n))
            dup = sum(c * len(g) for g, c in gc.items() if c > 1)
            assert row[f"dup_{n}gram_char_frac_micro"] == (
                dup * 1_000_000
            ) // n_chars, (i, n, t)
    assert set(got) == want_ids


# --- round-14 operators ----------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**6), max_value=10**6),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    st.booleans(),
)
@pytest.mark.soak
def test_bloom_no_false_negatives_for_arbitrary_keys(spark, keys, add_null):
    """For ANY key set (negatives included) the bloom invariant holds:
    every built key probes True on BOTH paths, the paths agree on
    every probe, and a NULL mixed into the SAME partition (the pandas
    float64-coercion hazard the r14 review confirmed) never corrupts
    integer verdicts."""
    from warp_pipe_spark.datapipe.bloom import (
        bloom_gate,
        bloom_gate_packed,
        build_bloom,
    )

    ref = spark.createDataFrame([(k,) for k in keys], "key LONG")
    words = build_bloom(ref, m_bits=1 << 12, k_hashes=3).localCheckpoint(
        eager=True
    )
    probe_rows = [(k,) for k in keys] + [(k + 1,) for k in keys]
    if add_null:
        probe_rows.append((None,))
    probe = spark.createDataFrame(probe_rows, "key LONG").coalesce(1)
    a = {
        r["key"]: r["maybe_member"]
        for r in bloom_gate(probe, words, m_bits=1 << 12, k_hashes=3).collect()
    }
    b = {
        r["key"]: r["maybe_member"]
        for r in bloom_gate_packed(
            probe, words, m_bits=1 << 12, k_hashes=3
        ).collect()
    }
    assert a == b
    assert all(a[k] for k in keys)  # no false negatives, ever
    if add_null:
        assert a[None] is False


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),      # entity
            st.integers(min_value=0, max_value=10**9),  # offset micros
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([4, 8, 16]),
)
def test_activity_series_matches_integer_spec(spark, evs, n_bins):
    """activity_series == the pure-Python integer spec
    bin = (t - t0) * n_bins // (t1 - t0 + 1) for ANY event layout —
    the exactness claim behind the bit-for-bit oracle."""
    from warp_pipe_spark.datapipe.timeseries import activity_series

    base = 1_700_000_000_000_000
    rows = [
        (i, e, (base + off) // 1000) for i, (e, off) in enumerate(evs)
    ]
    ev = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, ms LONG"
    ).select(
        "event_id", "user_id", F.timestamp_millis(F.col("ms")).alias("ts")
    )
    got = {
        r["entity"]: r["series"]
        for r in activity_series(ev, n_bins=n_bins).collect()
    }
    # spec in exact ints, micros truncated from ms exactly like the fixture
    ts = [(e, (base + off) // 1000 * 1000) for e, off in evs]
    t0, t1 = min(t for _, t in ts), max(t for _, t in ts)
    want: dict = {}
    for e, t in ts:
        b = (t - t0) * n_bins // (t1 - t0 + 1)
        want.setdefault(e, [0] * n_bins)[b] += 1
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=9), min_size=1, max_size=5
    ),
    st.integers(min_value=0, max_value=1_000_000),
)
@pytest.mark.soak
def test_prototypes_prune_quota_is_exact_ceil(spark, sizes, keep_micro):
    """For ANY cluster-size layout and ANY keep_micro, each cluster
    keeps exactly ceil(n_c * keep_micro / 1e6) rows with contiguous
    ranks 1..n_keep — the cluster-balanced quota contract."""
    from warp_pipe_spark.datapipe.clustering import prototypes_prune

    # well-separated clusters: center c at (10c, 0); members jitter on
    # a distinct axis so distances are unique within a cluster
    rows = []
    vid = 0
    for c, n in enumerate(sizes):
        for j in range(n):
            rows.append((vid, [10.0 * c + 0.01 * j, 0.0]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = prototypes_prune(
        emb, keep_micro=keep_micro, k=len(sizes), iters=2
    ).collect()
    by_cl: dict = {}
    for r in out:
        by_cl.setdefault(r["cluster"], []).append(r["rank"])
    kept_of = {cl: sorted(rs) for cl, rs in by_cl.items()}
    # map clusters back to sizes via total membership
    assigned: dict = {}
    from warp_pipe_spark.datapipe.clustering import kmeans_assign

    for r in kmeans_assign(emb, k=len(sizes), iters=2).collect():
        assigned[r["cluster"]] = assigned.get(r["cluster"], 0) + 1
    for cl, n_c in assigned.items():
        n_keep = (n_c * keep_micro + 999_999) // 1_000_000
        got_ranks = kept_of.get(cl, [])
        assert got_ranks == list(range(1, n_keep + 1)), (cl, n_c, keep_micro)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-100, 100)),
            st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
        ),
        min_size=1,
        max_size=25,
    )
)
@pytest.mark.soak
def test_profile_table_matches_python_spec(spark, rows):
    """profile_table's counts, exact micro-fraction, small-cardinality
    distinct, and typed min/max equal the pure-Python spec for ANY
    small table (NULLs anywhere)."""
    from warp_pipe_spark.datapipe.profile import profile_table

    df = spark.createDataFrame(rows, "x LONG, s STRING")
    got = {r["column"]: r for r in profile_table(df, k=64).collect()}
    n = len(rows)
    for col, vals in (("x", [r[0] for r in rows]), ("s", [r[1] for r in rows])):
        nn = sum(1 for v in vals if v is None)
        present = [v for v in vals if v is not None]
        r = got[col]
        assert r["n_rows"] == n and r["n_null"] == nn
        assert r["null_micro"] == nn * 1_000_000 // n
        assert r["distinct_est"] == len(set(present))  # below k: exact
        if col == "x":
            assert r["min_num"] == (min(present) if present else None)
            assert r["max_num"] == (max(present) if present else None)
        else:
            assert r["min_str"] == (min(present) if present else None)
            assert r["max_str"] == (max(present) if present else None)
