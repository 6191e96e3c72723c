"""Bloom membership gate: no false negatives ever, join-path ==
packed-path verdicts, exact verification strips false positives, and
the DuckDB bit-position replica matches bit-for-bit on real keys."""

import duckdb
import pytest
from pyspark.sql import functions as F

from warp_pipe_spark.datapipe.bloom import (
    bloom_bits,
    bloom_gate,
    bloom_gate_packed,
    bloom_gate_verified,
    build_bloom,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ref_keys(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.col("doc_id").alias("key"))
        .distinct()
    )


@pytest.fixture(scope="module")
def batch(spark, ref_keys):
    """Half known keys, half novel (offset far outside the id space).
    Ordered limit: a bare limit is plan-dependent and would desync the
    DuckDB replica's ORDER BY key LIMIT 200."""
    known = ref_keys.orderBy("key").limit(200)
    novel = known.select((F.col("key") + 1_000_000_000).alias("key"))
    return known.unionByName(novel)


def test_no_false_negatives_and_paths_agree(spark, ref_keys, batch):
    """Every reference key probes true on BOTH paths (the bloom
    invariant), and the two probe paths return identical verdicts for
    every batch key — the packed numpy/hashlib probe replays the
    DataFrame h32 arithmetic exactly."""
    words = build_bloom(ref_keys, m_bits=1 << 14, k_hashes=4)
    a = {
        r["key"]: r["maybe_member"]
        for r in bloom_gate(batch, words, m_bits=1 << 14, k_hashes=4).collect()
    }
    b = {
        r["key"]: r["maybe_member"]
        for r in bloom_gate_packed(
            batch, words, m_bits=1 << 14, k_hashes=4
        ).collect()
    }
    assert a == b
    known = {r["key"] for r in ref_keys.orderBy("key").limit(200).collect()}
    assert all(a[k] for k in known)  # no false negatives


def test_false_positive_rate_sane(spark, ref_keys, batch):
    """At m/n ≈ 33 bits per key with k=4 the textbook fp rate is
    ~0.2%; the 200 novel keys must be almost entirely rejected (allow
    a generous margin, zero flakiness: the hash is deterministic so
    this is a fixed number, the bound just doesn't hardcode it)."""
    words = build_bloom(ref_keys, m_bits=1 << 14, k_hashes=4)
    out = bloom_gate(batch, words, m_bits=1 << 14, k_hashes=4)
    novel_hits = out.filter(
        (F.col("key") >= 1_000_000_000) & F.col("maybe_member")
    ).count()
    assert novel_hits <= 5


def test_verified_gate_exact_membership(spark, ref_keys, batch):
    """A deliberately overloaded filter (m=1024 over 500 keys → high
    fp rate) plus exact verification must yield EXACT membership:
    is_member == (key in reference), false positives all stripped,
    and the bloom layer still admits every true member."""
    words = build_bloom(ref_keys, m_bits=1024, k_hashes=3)
    out = bloom_gate_verified(
        batch, words, ref_keys, m_bits=1024, k_hashes=3
    ).collect()
    known = {r["key"] for r in ref_keys.collect()}
    for r in out:
        assert r["is_member"] == (r["key"] in known)
        if r["key"] in known:
            assert r["maybe_member"]  # bloom never rejects a member
    # the overloaded filter DID produce false positives (so the
    # verify stage is actually exercised, not vacuous)
    assert any(r["maybe_member"] and not r["is_member"] for r in out)


def test_duplicate_and_null_keys(spark, ref_keys):
    """Duplicate batch keys each carry the (single, correct) verdict —
    the probe distincts keys before exploding so count(hit)==k stays
    well-defined; NULL keys gate to false on both paths. The batch is
    COALESCED TO ONE PARTITION so NULL and integer keys share an
    Arrow batch: the r14 review's confirmed false-negative bug —
    pandas coerces int64+None to float64, the probe hashed '123.0'
    while the filter held '123' — only reproduces when they co-locate
    (the fix renders the key with Spark's own CAST before
    mapInPandas)."""
    words = build_bloom(ref_keys, m_bits=1 << 14, k_hashes=4)
    one = ref_keys.orderBy("key").limit(1)
    dup = (
        one.unionByName(one)
        .unionByName(spark.createDataFrame([(None,)], "key LONG"))
        .coalesce(1)
    )
    for path in (bloom_gate, bloom_gate_packed):
        rows = path(dup, words, m_bits=1 << 14, k_hashes=4).collect()
        assert len(rows) == 3, path.__name__
        verdicts = [r["maybe_member"] for r in rows if r["key"] is not None]
        assert verdicts == [True, True], path.__name__
        assert [r["maybe_member"] for r in rows if r["key"] is None] == [
            False
        ], path.__name__


def test_write_read_bloom_roundtrip_and_mismatch_guard(spark, ref_keys, batch, tmp_path):
    """write_bloom/read_bloom carry m_bits/k_hashes with the index —
    probing with the stored parameters reproduces the in-memory
    verdicts exactly; packed_bitmap refuses a word table built with a
    LARGER m_bits than the probe was given (the silent-corruption
    direction is covered by reading the stored params instead of
    re-supplying them)."""
    from warp_pipe_spark.datapipe.bloom import (
        packed_bitmap,
        read_bloom,
        write_bloom,
    )

    idx = str(tmp_path / "idx")
    write_bloom(ref_keys, idx, m_bits=1 << 14, k_hashes=3)
    words, m_bits, k_hashes = read_bloom(spark, idx)
    assert (m_bits, k_hashes) == (1 << 14, 3)
    got = {
        r["key"]: r["maybe_member"]
        for r in bloom_gate_packed(
            batch, words, m_bits=m_bits, k_hashes=k_hashes
        ).collect()
    }
    want = {
        r["key"]: r["maybe_member"]
        for r in bloom_gate(
            batch,
            build_bloom(ref_keys, m_bits=1 << 14, k_hashes=3),
            m_bits=1 << 14,
            k_hashes=3,
        ).collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="larger"):
        packed_bitmap(words, 1 << 10)


def test_param_validation():
    from warp_pipe_spark.datapipe.bloom import _check_params

    with pytest.raises(ValueError, match="m_bits"):
        _check_params(32, 4)
    with pytest.raises(ValueError, match="k_hashes"):
        _check_params(1 << 20, 0)


def test_bloom_matches_duckdb_bit_for_bit(spark, ref_keys, batch):
    """Queued-oracle pre-validation: the packed word table and the bit
    set are the same object by construction, so the DuckDB replica
    probes the bit-POSITION set — per batch key, all k md5-derived
    bits present ⟺ maybe_member. Must match every verdict AND the
    bit set itself."""
    M, K = 1 << 14, 4
    got_bits = sorted(
        r["bit"] for r in bloom_bits(ref_keys, m_bits=M, k_hashes=K).collect()
    )
    got = sorted(
        (r["key"], r["maybe_member"])
        for r in bloom_gate(batch, build_bloom(ref_keys, m_bits=M, k_hashes=K),
                            m_bits=M, k_hashes=K).collect()
    )
    h = "('0x' || substr(md5('bloom' || j || '|' || CAST({x} AS VARCHAR)), 1, 8))::BIGINT % {m}"
    sql = f"""
    WITH ref AS (
      SELECT DISTINCT doc_id AS key
      FROM read_parquet('{SF}/documents.parquet') WHERE doc_id IS NOT NULL
    ),
    bits AS (
      SELECT DISTINCT {h.format(x='key', m=M)} AS bit
      FROM ref CROSS JOIN range({K}) t(j)
    ),
    batch AS (
      SELECT key FROM (SELECT DISTINCT doc_id AS key FROM
        read_parquet('{SF}/documents.parquet') ORDER BY key LIMIT 200)
      UNION ALL
      SELECT key + 1000000000 FROM (SELECT DISTINCT doc_id AS key FROM
        read_parquet('{SF}/documents.parquet') ORDER BY key LIMIT 200)
    ),
    probes AS (
      SELECT key, {h.format(x='key', m=M)} AS bit
      FROM batch CROSS JOIN range({K}) t(j)
    )
    SELECT p.key, (count(b.bit) = {K}) AS maybe_member
    FROM probes p LEFT JOIN bits b USING (bit)
    GROUP BY p.key
    """
    want = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    want_bits = [r[0] for r in duckdb.sql(
        f"""WITH ref AS (SELECT DISTINCT doc_id AS key
            FROM read_parquet('{SF}/documents.parquet') WHERE doc_id IS NOT NULL)
            SELECT DISTINCT {h.format(x='key', m=M)} AS bit
            FROM ref CROSS JOIN range({K}) t(j) ORDER BY bit"""
    ).fetchall()]
    assert got_bits == want_bits
    assert got == want


def test_update_bloom_append_equals_rebuild(spark, ref_keys, batch, tmp_path):
    """Append-only maintenance: build on half the keys, update_bloom
    the other half — BOTH probe paths must return exactly the verdicts
    of a fresh full build (duplicate word_idx rows from the append OR
    together in read_bloom), and no reference key may false-negative."""
    from warp_pipe_spark.datapipe.bloom import (
        read_bloom,
        update_bloom,
        write_bloom,
    )

    inc = str(tmp_path / "inc")
    write_bloom(
        ref_keys.filter("key % 2 = 0"), inc, m_bits=1 << 14, k_hashes=4
    )
    update_bloom(ref_keys.filter("key % 2 = 1"), inc, 0)
    words, m_bits, k_hashes = read_bloom(spark, inc)
    # the OR-fold leaves unique word_idx rows
    assert words.groupBy("word_idx").count().filter("count > 1").count() == 0

    full_words = build_bloom(ref_keys, m_bits=1 << 14, k_hashes=4)
    for gate in (bloom_gate, bloom_gate_packed):
        got = {
            r["key"]: r["maybe_member"]
            for r in gate(batch, words, m_bits=m_bits, k_hashes=k_hashes).collect()
        }
        want = {
            r["key"]: r["maybe_member"]
            for r in gate(
                batch, full_words, m_bits=1 << 14, k_hashes=4
            ).collect()
        }
        assert got == want, gate.__name__
    known = {r["key"] for r in ref_keys.orderBy("key").limit(200).collect()}
    assert all(got[k] for k in known)
