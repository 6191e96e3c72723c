"""Structured Streaming capture → apply: drop-dir source, foreachBatch
merge sink, availableNow drain (A8), idempotent restart."""

import pytest

from warp_pipe_spark.apply import replay
from warp_pipe_spark.streaming import ParquetStateSink, apply_stream, changeset_stream

SCHEMA = "id LONG, action STRING, table_name STRING, pk LONG, val STRING"

BATCH1 = [
    (1, "INSERT", "users", 1, "a"),
    (2, "INSERT", "users", 2, "b"),
]
BATCH2 = [
    (3, "DELETE", "users", 1, "a"),
    (4, "UPDATE", "users", 2, "b2"),
    (5, "INSERT", "users", 3, "c"),
]


def _write(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    return (
        str(tmp_path / "drop"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, drop, state, ckpt):
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(SCHEMA)
    stream = changeset_stream(spark, drop, schema=schema)
    sink = ParquetStateSink(spark, state, pk_cols=["pk"])
    q = apply_stream(stream, sink, ckpt, available_now=True)
    q.awaitTermination(120)
    return sink


def test_stream_apply_matches_batch_replay(spark, dirs):
    drop, state, ckpt = dirs
    _write(spark, BATCH1, drop)
    _write(spark, BATCH2, drop)
    sink = _run(spark, drop, state, ckpt)
    got = {(r["pk"], r["val"]) for r in sink.read_state().collect()}

    full = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
    want = {(r["pk"], r["val"]) for r in replay(full, ["pk"]).collect()}
    assert got == want == {(2, "b2"), (3, "c")}


def test_incremental_restart_resumes_from_checkpoint(spark, dirs):
    drop, state, ckpt = dirs
    _write(spark, BATCH1, drop)
    sink = _run(spark, drop, state, ckpt)
    assert {r["pk"] for r in sink.read_state().collect()} == {1, 2}

    # new files arrive; restarting with the same checkpoint processes
    # ONLY the new batch (StartFrom semantics) and converges
    _write(spark, BATCH2, drop)
    sink = _run(spark, drop, state, ckpt)
    got = {(r["pk"], r["val"]) for r in sink.read_state().collect()}
    assert got == {(2, "b2"), (3, "c")}


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    """At-least-once redelivery (same changeset id in later files) is
    collapsed to one row inside the watermark horizon."""
    import datetime as dt

    from warp_pipe_spark.streaming import dedup_stream

    drop = str(tmp_path / "drop_dd")
    schema = "id LONG, ts TIMESTAMP, action STRING, pk LONG"
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows1 = [(1, t0, "INSERT", 1), (2, t0, "INSERT", 2)]
    # file 2 redelivers id=2 (restart replay) plus a new id=3
    rows2 = [(2, t0, "INSERT", 2), (3, t0, "UPDATE", 1)]
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(drop)

    from pyspark.sql import types as T

    stream = changeset_stream(spark, drop, schema=T.StructType.fromDDL(schema))
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.id for r in spark.sql("SELECT id FROM dedup_out").collect()}
    n = spark.sql("SELECT count(*) AS n FROM dedup_out").first().n
    assert got == {1, 2, 3}
    assert n == 3


# --- versioned-pointer sink guarantees --------------------------------


MULTI = [
    (1, "INSERT", "users", 1, "a"),
    (2, "INSERT", "pets", 1, "rex"),
    (3, "INSERT", "pets", 2, "ada"),
]
USERS_ONLY = [
    (4, "UPDATE", "users", 1, "a2"),
]


def _mk_sink(spark, tmp_path, **kw):
    return ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"], **kw)


def _no_worker(sink):
    """`sink` with its rounds queueing no compaction: deltas wait for
    compact(), so layout assertions see one deterministic pointer."""
    sink._schedule = lambda meta, keys: None
    return sink


def _manual_sink(spark, tmp_path, **kw):
    return _no_worker(_mk_sink(spark, tmp_path, **kw))


def test_sink_untouched_tables_not_rewritten(spark, tmp_path):
    """Per-batch write cost is O(touched tables): a users-only batch
    must not rewrite (or even re-version) the pets state files."""
    import os

    sink = _manual_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)
    sink.compact()
    pets_rel = sink._read_pointer()["pets"]
    pets_dir = os.path.join(sink.state_dir, pets_rel)
    before = {f: os.path.getmtime(os.path.join(pets_dir, f)) for f in os.listdir(pets_dir)}

    sink.apply_batch(spark.createDataFrame(USERS_ONLY, SCHEMA), batch_id=1)
    # the round appends one users delta and touches nothing else
    assert sink._read_meta()["deltas"] == {"users": ["tables/users/d_1"]}
    sink.compact()

    assert sink._read_pointer()["pets"] == pets_rel  # same version dir
    after = {f: os.path.getmtime(os.path.join(pets_dir, f)) for f in os.listdir(pets_dir)}
    assert after == before  # bytes untouched
    assert sink._read_pointer()["users"].endswith("v_1")
    got = {(r["table_name"], r["pk"], r["val"]) for r in sink.read_state().collect()}
    assert got == {("users", 1, "a2"), ("pets", 1, "rex"), ("pets", 2, "ada")}


def test_sink_steady_batch_work_independent_of_backlog_width(spark, tmp_path):
    """O(touched) bound, the backlog-width axis (VERDICT r9 #7): the
    state dirs READ and the pointer entries REWRITTEN by a fixed narrow
    batch are identical before and after DOUBLING the number of
    committed (untouched) tables — steady micro-batch cost follows the
    touched set, not total state. tools/scale_probe.py --fanout
    measures the same invariant as wall clock at 16→32 tables; this
    pins the structural fact that makes the measurement hold."""
    sink = _manual_sink(spark, tmp_path)
    seed1 = [(i, "INSERT", f"t{i % 4}", i, "x") for i in range(8)]
    sink.apply_batch(spark.createDataFrame(seed1, SCHEMA), batch_id=0)
    sink.compact()

    # every state read, Spark's (read_state) and the compaction's Arrow one
    reads: list[list[str]] = []
    orig_read = sink._read_tables

    def spying(read):
        def spy(rels, schema):
            reads.append(sorted(rels))
            return read(rels, schema)

        return spy

    sink._read_tables = spying(orig_read)
    sink._read_arrow = spying(sink._read_arrow)

    def narrow(batch_id, id_base):
        batch = [
            (id_base, "UPDATE", "t0", 0, "u"),
            (id_base + 1, "UPDATE", "t1", 1, "u"),
        ]
        p0 = sink._read_meta()
        reads.clear()
        sink.apply_batch(spark.createDataFrame(batch, SCHEMA), batch_id)
        p1 = sink._read_meta()
        # the round reads no state at all; it only appends deltas
        assert reads == []
        rewritten = {
            k for part in ("tables", "deltas")
            for k in set(p0[part]) | set(p1[part])
            if p1[part].get(k) != p0[part].get(k)
        }
        sink.compact()  # the deferred merge, O(touched) as well
        tables_read = {
            rel.split("/")[1] for call in reads for rel in call
        }
        return rewritten, tables_read

    rewritten_a, read_a = narrow(1, 100)

    # double the backlog: 4 more tables that the narrow batch never touches
    seed2 = [(200 + i, "INSERT", f"t{4 + i % 4}", i, "x") for i in range(8)]
    sink.apply_batch(spark.createDataFrame(seed2, SCHEMA), batch_id=2)
    sink.compact()
    assert len(sink._read_pointer()) == 8

    rewritten_b, read_b = narrow(3, 300)

    assert rewritten_a == rewritten_b == {"t0", "t1"}
    assert read_a == read_b == {"t0", "t1"}
    got = {
        (r["table_name"], r["pk"], r["val"])
        for r in orig_read(
            sorted(sink._read_pointer().values()), sink._read_meta()["schema"]
        ).collect()
        if r["table_name"] in ("t0", "t1") and r["pk"] in (0, 1)
    }
    assert got == {("t0", 0, "u"), ("t1", 1, "u")}


def test_sink_crash_before_pointer_commit_keeps_old_state(spark, tmp_path):
    """Version dirs written but pointer NOT swapped (crash window) →
    readers still see the previous committed state; replaying the batch
    converges."""
    import os

    sink = _mk_sink(spark, tmp_path)
    b0 = spark.createDataFrame(MULTI, SCHEMA)
    sink.apply_batch(b0, batch_id=0)
    committed = sink._read_meta()

    b1 = spark.createDataFrame(USERS_ONLY, SCHEMA)
    # simulate the crash: batch-1 data dirs get written, then the
    # process dies AT the commit point — the pointer swap never happens.
    # Only the commit that would land batch-1's delta dies; any other
    # commit (a GC of superseded dirs) goes through.
    real_commit = sink._commit_pointer

    def crash_on_append(meta):
        if meta["deltas"] != committed["deltas"]:
            raise OSError("crash")
        real_commit(meta)

    sink._commit_pointer = crash_on_append
    with pytest.raises(OSError):
        sink.apply_batch(b1, batch_id=1)
    sink._commit_pointer = real_commit
    # the crash hit the append's own commit: its delta is on disk, the
    # pointer does not reference it
    assert os.path.isdir(os.path.join(sink.state_dir, "tables/users/d_1"))
    assert sink._read_meta()["deltas"] == committed["deltas"]

    got = {(r["pk"], r["val"]) for r in sink.read_state().filter("table_name='users'").collect()}
    assert got == {(1, "a")}  # pre-crash state, not a torn mix

    # checkpoint replay of the same batch converges (idempotent)
    sink.apply_batch(b1, batch_id=1)
    got = {(r["pk"], r["val"]) for r in sink.read_state().filter("table_name='users'").collect()}
    assert got == {(1, "a2")}


def test_sink_corrupt_pointer_raises_not_resets(spark, tmp_path):
    """A damaged pointer must raise StateCorruptError — never be
    silently treated as 'no state' (which would reset to the current
    batch only)."""
    import pytest as _pytest

    from warp_pipe_spark.streaming import StateCorruptError

    sink = _mk_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)

    with open(sink._pointer_path(), "w") as f:
        f.write("{not json")
    with _pytest.raises(StateCorruptError):
        sink.read_state()

    # missing pointer with data present is also corruption, not fresh
    import os

    os.remove(sink._pointer_path())
    with _pytest.raises(StateCorruptError):
        sink.read_state()


def test_sink_fresh_dir_is_none_not_error(spark, tmp_path):
    assert _mk_sink(spark, tmp_path).read_state() is None


def test_sink_crash_during_first_batch_recovers_on_replay(spark, tmp_path):
    """Dying INSIDE the very first micro-batch (version dirs written,
    the batch's pointer never committed) must leave a recoverable sink:
    an empty pointer is committed before any data dir exists, so a
    restart sees valid empty state — not data-without-pointer, which
    _read_pointer rightly treats as corruption and which would wedge
    every redelivery behind StateCorruptError forever."""
    sink = _mk_sink(spark, tmp_path)
    b0 = spark.createDataFrame(MULTI, SCHEMA)
    real_commit = sink._commit_pointer

    def crash_on_batch_commit(meta):
        if meta["deltas"]:  # let the pre-write empty commit through
            raise OSError("crash at first batch's commit point")
        real_commit(meta)

    sink._commit_pointer = crash_on_batch_commit
    with pytest.raises(OSError):
        sink.apply_batch(b0, batch_id=0)
    sink._commit_pointer = real_commit

    # restart: state reads as empty (not corrupt), replay converges
    assert sink.read_state() is None
    sink.apply_batch(b0, batch_id=0)
    got = {(r["table_name"], r["pk"], r["val"]) for r in sink.read_state().collect()}
    assert got == {("users", 1, "a"), ("pets", 1, "rex"), ("pets", 2, "ada")}


def test_sink_null_table_rows_skipped_not_poison_pill(spark, tmp_path):
    """Decoders emit null-struct rows for malformed input lines; a
    NULL table_name row cannot be applied to any table. It must be
    skipped (dead-lettering is the pipeline stage's job), not crash
    the batch — an unhandled TypeError here becomes a poison-pill
    batch that fails identically on every at-least-once redelivery."""
    sink = _mk_sink(spark, tmp_path)
    rows = MULTI + [(9, "INSERT", None, 9, "ghost")]
    sink.apply_batch(spark.createDataFrame(rows, SCHEMA), batch_id=0)
    got = {(r["table_name"], r["pk"], r["val"]) for r in sink.read_state().collect()}
    assert got == {("users", 1, "a"), ("pets", 1, "rex"), ("pets", 2, "ada")}

    # a batch that is ONLY unroutable rows is a clean no-op
    sink.apply_batch(
        spark.createDataFrame([(10, "INSERT", None, 10, "x")], SCHEMA),
        batch_id=1,
    )
    assert sink.read_state().count() == 3


# --- keyset poll loop (S2 tail: JDBC push→poll translation) -----------


def test_keyset_poller_drains_in_bounded_rounds(spark, tmp_path):
    from warp_pipe_spark.streaming import KeysetPoller, parquet_keyset_fetch

    audit = str(tmp_path / "audit")
    _write(spark, BATCH1 + BATCH2, audit)  # ids 1..5
    sink = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    poller = KeysetPoller(
        spark, parquet_keyset_fetch(audit), sink, str(tmp_path / "off.json"), limit=2
    )
    n = poller.run_until_drained()
    assert n == 5 and poller.committed_offset() == 5
    got = {(r["pk"], r["val"]) for r in sink.read_state().collect()}
    full = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
    want = {(r["pk"], r["val"]) for r in replay(full, ["pk"]).collect()}
    assert got == want == {(2, "b2"), (3, "c")}


def test_keyset_poller_kill_restart_resumes_from_offset(spark, tmp_path):
    """Kill the poller mid-stream; a NEW poller instance on the same
    offset file resumes strictly after the committed id and converges;
    late-arriving audit files are picked up by later rounds."""
    from warp_pipe_spark.streaming import KeysetPoller, parquet_keyset_fetch

    audit = str(tmp_path / "audit")
    _write(spark, BATCH1, audit)  # ids 1,2
    mk = lambda: KeysetPoller(  # noqa: E731
        spark,
        parquet_keyset_fetch(audit),
        ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"]),
        str(tmp_path / "off.json"),
        limit=1,
    )
    a = mk()
    assert a.poll_once() == 1  # applies id=1 only, then "dies"
    assert a.committed_offset() == 1

    b = mk()  # restart: fresh instance, durable offset
    assert b.run_until_drained() == 1  # id=2 only — no re-fetch of id=1
    _write(spark, BATCH2, audit)  # ids 3..5 arrive later
    assert b.run_until_drained() == 3
    got = {(r["pk"], r["val"]) for r in b.sink.read_state().collect()}
    assert got == {(2, "b2"), (3, "c")}


def test_keyset_poller_crash_before_offset_commit_redelivers_once_effect(
    spark, tmp_path
):
    """Crash in the window between sink commit and offset commit: the
    restarted poller re-fetches the same slice (at-least-once), and the
    LWW sink absorbs the redelivery — final state identical, offset
    catches up."""
    from warp_pipe_spark.streaming import KeysetPoller, parquet_keyset_fetch

    audit = str(tmp_path / "audit")
    _write(spark, BATCH1 + BATCH2, audit)
    sink = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    poller = KeysetPoller(
        spark, parquet_keyset_fetch(audit), sink, str(tmp_path / "off.json"), limit=3
    )
    real_commit = poller._commit_offset
    poller._commit_offset = lambda last_id: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        poller.poll_once()  # sink applied ids 1..3, offset NOT committed
    poller._commit_offset = real_commit
    assert poller.committed_offset() == 0

    assert poller.run_until_drained() == 5  # ids 1..3 redelivered + 4,5
    assert poller.committed_offset() == 5
    got = {(r["pk"], r["val"]) for r in sink.read_state().collect()}
    assert got == {(2, "b2"), (3, "c")}


def test_keyset_poller_start_from_id_skips_history(spark, tmp_path):
    from warp_pipe_spark.streaming import KeysetPoller, parquet_keyset_fetch

    audit = str(tmp_path / "audit")
    _write(spark, BATCH1 + BATCH2, audit)
    sink = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    poller = KeysetPoller(
        spark,
        parquet_keyset_fetch(audit),
        sink,
        str(tmp_path / "off.json"),
        start_from_id=3,
        limit=10,
    )
    assert poller.run_until_drained() == 2  # ids 4,5 only
    got = {(r["pk"], r["val"], r["action"]) for r in sink.read_state().collect()}
    assert got == {(2, "b2", "UPDATE"), (3, "c", "INSERT")}


def test_keyset_poller_corrupt_offset_raises_not_restarts(spark, tmp_path):
    """A damaged offset file must raise StateCorruptError — silently
    falling back to start_from_id would re-deliver the entire history
    (correct but a full-backlog replay) without telling anyone."""
    from warp_pipe_spark.streaming import (
        KeysetPoller,
        StateCorruptError,
        parquet_keyset_fetch,
    )

    audit = str(tmp_path / "audit")
    _write(spark, BATCH1, audit)
    sink = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    poller = KeysetPoller(
        spark, parquet_keyset_fetch(audit), sink, str(tmp_path / "off.json")
    )
    poller.run_until_drained()

    with open(poller.offset_path, "w") as f:
        f.write("{broken")
    with pytest.raises(StateCorruptError):
        poller.poll_once()


# --- pk-hash-bucketed state (VERDICT r2 item 2) -----------------------


def test_bucketed_sink_rewrites_only_touched_bucket(spark, tmp_path):
    """With n_buckets=B, an update to one pk rewrites exactly the one
    bucket dir that pk hashes into — the single-hot-table workload no
    longer degenerates to O(table state) per micro-batch."""
    import os

    B = 8
    sink = _manual_sink(spark, tmp_path, n_buckets=B)
    seed = [(i, "INSERT", "users", i, f"v{i}") for i in range(1, 33)]
    sink.apply_batch(spark.createDataFrame(seed, SCHEMA), batch_id=0)
    sink.compact()
    p0 = sink._read_pointer()
    assert all("#b" in k for k in p0)
    assert len(p0) > 1  # 32 pks spread over several buckets

    sink.apply_batch(
        spark.createDataFrame([(100, "UPDATE", "users", 7, "v7b")], SCHEMA),
        batch_id=1,
    )
    # the round wrote exactly one bucket's delta
    assert len(sink._read_meta()["deltas"]) == 1
    sink.compact()
    p1 = sink._read_pointer()
    changed = {k for k in p1 if p1[k] != p0.get(k)}
    assert len(changed) == 1  # exactly one bucket re-versioned
    assert "/v_1/" in p1[changed.pop()]
    # untouched bucket dirs survive byte-identical paths
    got = {(r["pk"], r["val"]) for r in sink.read_state().collect()}
    assert got == {(i, f"v{i}") for i in range(1, 33) if i != 7} | {(7, "v7b")}


def test_bucketed_sink_delete_empties_bucket_cleanly(spark, tmp_path):
    """Deleting every row in a bucket must leave NO pointer entry for
    it (a version dir with zero parquet files is unreadable on restart)
    and the remaining state must read back intact."""
    B = 4
    sink = _manual_sink(spark, tmp_path, n_buckets=B)
    seed = [(i, "INSERT", "users", i, f"v{i}") for i in range(1, 17)]
    sink.apply_batch(spark.createDataFrame(seed, SCHEMA), batch_id=0)
    sink.compact()
    p0 = sink._read_pointer()
    # delete every pk that landed in one bucket
    target_key = sorted(p0)[0]
    victims = [
        row["pk"]
        for row in sink._read_tables(
            [p0[target_key]], sink._read_meta()["schema"]
        ).collect()
    ]
    assert victims
    dels = [(100 + j, "DELETE", "users", pk, None) for j, pk in enumerate(victims)]
    sink.apply_batch(spark.createDataFrame(dels, SCHEMA), batch_id=1)
    sink.compact()
    p1 = sink._read_pointer()
    assert target_key not in p1  # emptied bucket: pointer entry dropped
    assert sink._read_meta()["deltas"] == {}
    survivors = {(i, f"v{i}") for i in range(1, 17) if i not in victims}
    assert {(r["pk"], r["val"]) for r in sink.read_state().collect()} == survivors
    # a fresh sink instance reads the committed state without error
    re_read = ParquetStateSink(
        spark, str(tmp_path / "state"), pk_cols=["pk"], n_buckets=B
    ).read_state()
    assert {(r["pk"], r["val"]) for r in re_read.collect()} == survivors


def test_bucketed_sink_layout_is_fixed_at_first_commit(spark, tmp_path):
    from warp_pipe_spark.streaming import StateCorruptError

    sink = ParquetStateSink(
        spark, str(tmp_path / "state"), pk_cols=["pk"], n_buckets=4
    )
    sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)
    other = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    with pytest.raises(StateCorruptError, match="n_buckets"):
        other.read_state()


def test_bucketed_sink_rejects_zero_buckets(spark, tmp_path):
    # ADVICE r4: n_buckets=0 would round-trip through the pointer as
    # falsy and spuriously StateCorruptError against its own state
    with pytest.raises(ValueError, match="n_buckets"):
        ParquetStateSink(
            spark, str(tmp_path / "state"), pk_cols=["pk"], n_buckets=0
        )


@pytest.mark.soak
def test_keyset_poller_tails_while_writer_appends(spark, tmp_path):
    """True reader-vs-writer race (VERDICT r2 item 4): the poller tails
    the audit dir WHILE a concurrent writer keeps appending changeset
    files. Neither side coordinates; when the writer finishes, a final
    drain must converge to the batch replay oracle over everything
    written — no skipped ids, no stuck offset, no torn state."""
    import threading

    from warp_pipe_spark.streaming import KeysetPoller, parquet_keyset_fetch

    audit = str(tmp_path / "audit")
    # id layout: INSERT pk at id=k, every 3rd pk UPDATEd, every 5th
    # DELETEd — enough kind mix that a lost slice would change state
    all_rows = []
    nxt = 1
    for pk in range(1, 31):
        all_rows.append((nxt, "INSERT", "users", pk, f"v{pk}")); nxt += 1
    for pk in range(3, 31, 3):
        all_rows.append((nxt, "UPDATE", "users", pk, f"v{pk}u")); nxt += 1
    for pk in range(5, 31, 5):
        all_rows.append((nxt, "DELETE", "users", pk, None)); nxt += 1

    _write(spark, all_rows[:4], audit)  # seed so the first poll sees data
    poller = KeysetPoller(
        spark,
        parquet_keyset_fetch(audit),
        ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"]),
        str(tmp_path / "off.json"),
        limit=7,
    )

    written = threading.Event()
    errs: list[BaseException] = []

    def writer():
        try:
            for i in range(4, len(all_rows), 4):
                _write(spark, all_rows[i : i + 4], audit)
        except BaseException as e:  # surface into the main thread
            errs.append(e)
        finally:
            written.set()

    t = threading.Thread(target=writer)
    t.start()
    applied = 0
    while not written.is_set():  # tail live against the growing log
        applied += poller.poll_once()
    t.join()
    assert not errs, errs
    applied += poller.run_until_drained()  # A8 drain after writer stops

    assert applied == len(all_rows)
    assert poller.committed_offset() == len(all_rows)
    got = {(r["pk"], r["val"]) for r in poller.sink.read_state().collect()}
    want = {
        (r["pk"], r["val"])
        for r in replay(spark.createDataFrame(all_rows, SCHEMA), ["pk"]).collect()
    }
    assert got == want


def test_keyset_poller_with_bucketed_sink_converges(spark, tmp_path):
    """The poller contract holds unchanged over the bucketed sink: the
    drain converges to batch replay while per-batch writes stay
    bucket-granular."""
    from warp_pipe_spark.streaming import KeysetPoller, parquet_keyset_fetch

    audit = str(tmp_path / "audit")
    rows = [(i, "INSERT", "users", i % 10, f"v{i}") for i in range(1, 41)]
    _write(spark, rows, audit)
    sink = ParquetStateSink(
        spark, str(tmp_path / "state"), pk_cols=["pk"], n_buckets=4
    )
    poller = KeysetPoller(
        spark, parquet_keyset_fetch(audit), sink, str(tmp_path / "off.json"), limit=15
    )
    assert poller.run_until_drained() == 40
    got = {(r["pk"], r["val"]) for r in sink.read_state().collect()}
    want = {
        (r["pk"], r["val"])
        for r in replay(spark.createDataFrame(rows, SCHEMA), ["pk"]).collect()
    }
    assert got == want
    sink.compact()
    assert sink._read_pointer() and all("#b" in k for k in sink._read_pointer())


def test_sink_time_travel_asof(spark, tmp_path):
    """retain_history=True: superseded version dirs are kept, every
    commit lands in the pointer log, and read_state_asof(N) returns the
    exact state after batch N — Delta-style time travel on CDC state."""
    sink = ParquetStateSink(
        spark, str(tmp_path / "state"), pk_cols=["pk"], retain_history=True
    )
    sink.apply_batch(spark.createDataFrame(BATCH1, SCHEMA), batch_id=0)
    sink.apply_batch(spark.createDataFrame(BATCH2, SCHEMA), batch_id=1)
    sink.apply_batch(
        spark.createDataFrame([(6, "INSERT", "users", 4, "d")], SCHEMA), batch_id=2
    )

    def rows(df):
        return {(r["pk"], r["val"]) for r in df.collect()}

    assert rows(sink.read_state_asof(0)) == {(1, "a"), (2, "b")}
    assert rows(sink.read_state_asof(1)) == {(2, "b2"), (3, "c")}
    assert rows(sink.read_state_asof(2)) == {(2, "b2"), (3, "c"), (4, "d")}
    # asof between commits resolves to the last commit <= N
    assert rows(sink.read_state_asof(99)) == rows(sink.read_state())
    assert sink.read_state_asof(-1) is None


def test_sink_default_still_garbage_collects(spark, tmp_path):
    """Without retain_history the superseded v_0 dir is deleted — at
    the start of the round after the compaction that superseded it, so
    a frame read in between stays readable — and read_state_asof
    refuses (the history it would need was never kept)."""
    import os

    import pytest as _pytest

    sink = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    sink.apply_batch(spark.createDataFrame(BATCH1, SCHEMA), batch_id=0)
    sink.compact()
    v0 = os.path.join(sink.state_dir, sink._read_pointer()["users"])
    sink.apply_batch(spark.createDataFrame(BATCH2, SCHEMA), batch_id=1)
    sink.compact()
    frame = sink.read_state()
    assert os.path.exists(v0)  # superseded, but GC waits for the next round
    assert {(r["pk"], r["val"]) for r in frame.collect()} == {(2, "b2"), (3, "c")}
    sink.apply_batch(spark.createDataFrame([], SCHEMA), batch_id=2)
    assert not os.path.exists(v0)
    with _pytest.raises(ValueError):
        sink.read_state_asof(0)


def test_sink_vacuum_history_bounds_storage(spark, tmp_path):
    """vacuum_history(keep_last=2): older as-of reads disappear, newer
    ones survive, shared (untouched-table) version dirs are preserved,
    and the current state is untouched."""
    import os

    sink = _manual_sink(spark, tmp_path, retain_history=True)
    for batch_id, rows in enumerate(
        [BATCH1, BATCH2, [(6, "INSERT", "users", 4, "d")]]
    ):
        sink.apply_batch(spark.createDataFrame(rows, SCHEMA), batch_id=batch_id)
        sink.compact()
    v0 = os.path.join(sink.state_dir, "tables/users/v_0")
    assert os.path.isdir(v0)

    n = sink.vacuum_history(keep_last=2)
    # batch 0's delta and base, and the deltas batches 1 and 2 folded:
    # only the bases of the two kept batches survive
    assert n == 4 and not os.path.exists(v0)
    assert os.path.isdir(os.path.join(sink.state_dir, "tables/users/v_1"))
    # asof(0) now resolves to nothing older than the kept window
    assert sink.read_state_asof(0) is None
    assert {(r["pk"], r["val"]) for r in sink.read_state_asof(1).collect()} == {
        (2, "b2"),
        (3, "c"),
    }
    assert {(r["pk"], r["val"]) for r in sink.read_state().collect()} == {
        (2, "b2"),
        (3, "c"),
        (4, "d"),
    }
    # idempotent: nothing more to drop
    assert sink.vacuum_history(keep_last=2) == 0


def test_sink_additive_schema_evolution_new_column(spark, tmp_path):
    """A source-side ALTER TABLE ADD COLUMN mid-stream: batch 1 lacks
    `email`, batch 2 carries it. The sink must merge (pre-evolution
    rows read NULL), the mixed-version multi-path read must surface
    the new column (mergeSchema), and a fresh sink over the same dir
    must see the evolved state after restart."""
    sink = _mk_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(BATCH1, SCHEMA), batch_id=0)
    evolved = spark.createDataFrame(
        [(10, "INSERT", "users", 5, "e", "e@x.com")],
        SCHEMA + ", email STRING",
    )
    sink.apply_batch(evolved, batch_id=1)

    got = {
        (r["pk"], r["val"], r["email"]) for r in sink.read_state().collect()
    }
    assert got == {(1, "a", None), (2, "b", None), (5, "e", "e@x.com")}

    # restart: a fresh sink instance reads the same evolved state
    sink2 = _mk_sink(spark, tmp_path)
    assert {
        (r["pk"], r["email"]) for r in sink2.read_state().collect()
    } == {(1, None), (2, None), (5, "e@x.com")}


def test_sink_schema_evolution_dropped_column_keeps_state_data(spark, tmp_path):
    """The reverse direction: a batch that no longer carries `val`
    must not silently drop the column from state — old rows keep their
    values, the new row reads NULL, and an UPDATE from the narrow
    schema nulls only ITS row (its version is the LWW winner)."""
    sink = _mk_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(BATCH1, SCHEMA), batch_id=0)
    narrow = spark.createDataFrame(
        [(11, "INSERT", "users", 6), (12, "UPDATE", "users", 2)],
        "id LONG, action STRING, table_name STRING, pk LONG",
    )
    sink.apply_batch(narrow, batch_id=1)
    got = {(r["pk"], r["val"]) for r in sink.read_state().collect()}
    assert got == {(1, "a"), (2, None), (6, None)}


TRUNC_LOG = [
    (1, "insert", "users", 1, "a"),
    (2, "insert", "users", 2, "b"),
    (3, "insert", "pets", 1, "rex"),
    (4, "truncate", "users", None, None),
    (5, "insert", "users", 3, "c"),
]


def _state_rows(sink, asof=None):
    state = sink.read_state() if asof is None else sink.read_state_asof(asof)
    return _rows(state.select("id", "action", "table_name", "pk", "val"))


def _truncate_oracle(spark, rows):
    from warp_pipe_spark.changeset import TRUNCATE_KINDS

    log = spark.createDataFrame(rows, SCHEMA)
    return _rows(replay(log, ["pk"], truncate_kinds=TRUNCATE_KINDS).select(*log.columns))


def test_default_sink_truncate_clears_table_without_phantom_row(spark, tmp_path):
    """A default sink gives a `truncate` changeset table-clear semantics:
    the truncated table's earlier rows are gone and no truncate row is
    stored, merge-on-read and after compact(), and the state equals the
    truncate-aware replay. A redelivered truncate batch converges to the
    same state."""
    sink = _manual_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(TRUNC_LOG[:3], SCHEMA), batch_id=0)
    trunc = spark.createDataFrame(TRUNC_LOG[3:], SCHEMA)
    sink.apply_batch(trunc, batch_id=1)
    want = _truncate_oracle(spark, TRUNC_LOG)
    assert want == {(3, "insert", "pets", 1, "rex"), (5, "insert", "users", 3, "c")}
    assert _state_rows(sink) == want  # merge-on-read
    sink.compact()
    assert _state_rows(sink) == want
    sink.apply_batch(trunc, batch_id=1)  # redelivered
    assert _state_rows(sink) == want
    sink.compact()
    assert _state_rows(sink) == want


def test_bucketed_sink_truncate_clears_all_buckets(spark, tmp_path):
    """A `truncate` changeset (pgoutput source) clears EVERY committed
    bucket of its table when its batch applies — including buckets no
    batch row hashes into: the table's keys leave the pointer in the
    batch's own commit, other tables stay untouched, and post-truncate
    rows land as usual. Redelivery converges to the same state."""
    B = 8
    sink = _manual_sink(spark, tmp_path, n_buckets=B)
    seed = [(i, "INSERT", "users", i, f"v{i}") for i in range(1, 33)] + [
        (100, "INSERT", "pets", 1, "rex")
    ]
    sink.apply_batch(spark.createDataFrame(seed, SCHEMA), batch_id=0)
    sink.compact()
    assert sink.read_state().count() == 33
    seeded = [k for k in sink._read_pointer() if k.startswith("users#b")]
    assert len(seeded) > 1

    batch = [
        (200, "truncate", "users", None, None),
        (201, "INSERT", "users", 50, "survivor"),
    ]
    sink.apply_batch(spark.createDataFrame(batch, SCHEMA), batch_id=1)
    # at apply time: no base of users is left, and the one delta is
    # the survivor's bucket
    meta = sink._read_meta()
    assert not [k for k in meta["tables"] if k.startswith("users#b")]
    (key,) = meta["deltas"]
    assert key.startswith("users#b")
    want = {("pets", 1, "rex"), ("users", 50, "survivor")}

    def state():
        return {
            (r["table_name"], r["pk"], r["val"])
            for r in sink.read_state().collect()
        }

    assert state() == want  # merge-on-read
    sink.compact()
    assert state() == want
    assert len([k for k in sink._read_pointer() if k.startswith("users#b")]) == 1
    sink.apply_batch(spark.createDataFrame(batch, SCHEMA), batch_id=1)  # redelivered
    sink.compact()
    assert state() == want


def test_truncate_while_compacting_its_table_resurrects_nothing(spark, tmp_path):
    """A truncate that lands while the worker is folding its table waits
    for the fold, then clears its result: the compaction cannot commit a
    base of pre-truncate rows after the clear."""
    import threading
    import time

    sink = _mk_sink(spark, tmp_path)
    sink.COMPACT_DELTAS = 1  # every delta is due
    folding = threading.Event()
    real = sink._read_arrow

    def slow(rels, schema):
        worker = threading.current_thread().name == "state-sink-compactor"
        if worker and any("/users/" in r for r in rels):
            folding.set()  # the worker has read the pointer it will fold
            time.sleep(1.0)
        return real(rels, schema)

    sink._read_arrow = slow
    sink.apply_batch(spark.createDataFrame(TRUNC_LOG[:3], SCHEMA), batch_id=0)
    assert folding.wait(60)
    sink.apply_batch(spark.createDataFrame(TRUNC_LOG[3:], SCHEMA), batch_id=1)
    sink.close()
    want = _truncate_oracle(spark, TRUNC_LOG)
    assert _state_rows(sink) == want
    sink.compact()
    assert _state_rows(sink) == want


def test_truncate_keeps_history_for_asof_reads(spark, tmp_path):
    """With retain_history the cleared dirs stay in place: an as-of read
    of a batch before the truncate still sees the table's old rows."""
    sink = _manual_sink(spark, tmp_path, retain_history=True)
    sink.apply_batch(spark.createDataFrame(TRUNC_LOG[:3], SCHEMA), batch_id=0)
    sink.apply_batch(spark.createDataFrame(TRUNC_LOG[3:], SCHEMA), batch_id=1)
    before = _rows(replay(spark.createDataFrame(TRUNC_LOG[:3], SCHEMA), ["pk"]))
    after = _truncate_oracle(spark, TRUNC_LOG)
    for _ in range(2):  # and after the folds
        assert _state_rows(sink, 0) == before
        assert _state_rows(sink, 1) == _state_rows(sink) == after
        sink.compact()


def test_streamed_truncate_clears_state_through_wal2json_stream(spark, tmp_path):
    """Truncate semantics wired END-TO-END through the STREAMING path:
    pgoutput-shaped drop-dir docs (insert batch, then a truncate +
    post-truncate insert) flow through wal2json_stream into a default
    ParquetStateSink — the table clears mid-stream and only the
    post-truncate row survives."""
    import json as _json

    from pyspark.sql import functions as F

    from warp_pipe_spark.changeset import column_value
    from warp_pipe_spark.streaming import wal2json_stream

    def doc(changes, nextlsn):
        return _json.dumps({"change": changes, "nextlsn": nextlsn})

    def ch(cid, kind, pk=None, val=None):
        cols = (
            {"columnnames": ["id", "val"], "columntypes": ["bigint", "text"],
             "columnvalues": [str(pk), val]}
            if kind != "truncate"
            else {"columnnames": [], "columntypes": [], "columnvalues": []}
        )
        return {"id": cid, "kind": kind, "schema": "public",
                "table": "users", **cols}

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "lr_01.jsonl").write_text(
        doc([ch(1, "insert", 1, "a"), ch(2, "insert", 2, "b")], "0/1000") + "\n"
    )
    (drop / "lr_02.jsonl").write_text(
        doc([ch(3, "truncate"), ch(4, "insert", 3, "c")], "0/2000") + "\n"
    )

    decoded = wal2json_stream(spark, str(drop), max_files_per_trigger=1)
    typed = decoded.select(
        "id",
        F.col("kind").alias("action"),
        F.col("table").alias("table_name"),
        column_value("new_values", "id").cast("long").alias("pk"),
        column_value("new_values", "val").alias("val"),
    )
    sink = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    q = (
        typed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["pk"], r["val"])
        for r in sink.read_state().select("pk", "val").collect()
    }
    assert got == {(3, "c")}


def test_sink_single_write_handles_escaped_table_names(spark, tmp_path):
    """Table names with characters a path cannot carry as-is (`/`, `:`,
    `=`, `%`) plus the empty string round-trip: each lands in its own
    percent-quoted delta dir under its own pointer key, and compaction
    folds each into its own base."""
    weird = ["users", "a/b:c", "x=y", "100%", ""]
    rows = [(i + 1, "INSERT", t, i + 1, f"v{i}") for i, t in enumerate(weird)]
    sink = _manual_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(rows, SCHEMA), batch_id=0)
    assert set(sink._read_meta()["deltas"]) == set(weird)
    sink.compact()
    pointer = sink._read_pointer()
    assert set(pointer) == set(weird)
    got = {
        (r["table_name"], r["pk"], r["val"])
        for r in sink.read_state().collect()
    }
    assert got == {(t, i + 1, f"v{i}") for i, t in enumerate(weird)}
    # second batch touches a subset: untouched weird-name tables keep
    # their version dirs, touched ones re-version
    sink.apply_batch(
        spark.createDataFrame([(10, "UPDATE", "a/b:c", 2, "v1b")], SCHEMA),
        batch_id=1,
    )
    sink.compact()
    p1 = sink._read_pointer()
    assert p1["a/b:c"].endswith("v_1")
    assert p1["users"] == pointer["users"]
    assert {
        (r["table_name"], r["val"])
        for r in sink.read_state().filter("pk = 2").collect()
    } == {("a/b:c", "v1b")}


def test_batch_stats_matches_apply_batch_derivation(spark, tmp_path):
    """The (max_id, n) apply_batch observes inside its write must agree
    with the base-class batch_stats job — including NULL-table rows,
    which count toward the offset watermark but are never applied —
    bucketed or not."""
    from warp_pipe_spark.merge_sink import InMemoryMergeExecutor, MergeStateSink

    rows = [
        (1, "INSERT", "users", 1, "a"),
        (7, "INSERT", None, 9, "poison"),  # null-table: offset-only
        (3, "INSERT", "pets", 1, "rex"),
        (5, "UPDATE", "users", 1, "a2"),
    ]
    batch = spark.createDataFrame(rows, SCHEMA)
    assert MergeStateSink(spark, InMemoryMergeExecutor(spark)).batch_stats(
        batch
    ) == (7, 4)
    for n_buckets in (None, 4):
        sink = ParquetStateSink(
            spark, str(tmp_path / f"b{n_buckets}"), pk_cols=["pk"],
            n_buckets=n_buckets,
        )
        assert sink.batch_stats(batch) == (7, 4)
        assert sink.apply_batch(batch, batch_id=0) == (7, 4)
        assert {
            (r["table_name"], r["pk"], r["id"], r["val"])
            for r in sink.read_state().collect()
        } == {("users", 1, 5, "a2"), ("pets", 1, 3, "rex")}
    empty = spark.createDataFrame([], SCHEMA)
    assert sink.apply_batch(empty, batch_id=1) == (None, 0)


def test_redelivered_batch_never_unlinks_committed_dirs(spark, tmp_path):
    """ADVICE r14: a redelivered batch_id must NEVER delete the dir the
    committed pointer references before the new pointer lands — a crash
    in that window used to leave the pointer referencing deleted dirs.
    Now the redelivery writes a `.r<n>`-suffixed delta and the committed
    one survives; both are garbage only after the compaction that folds
    them commits, and are swept by the round after it."""
    import os

    sink = _manual_sink(spark, tmp_path)
    b = spark.createDataFrame(USERS_ONLY, SCHEMA)
    sink.apply_batch(b, batch_id=1)
    committed_rel = sink._read_meta()["deltas"]["users"][0]
    committed_dir = str(tmp_path / "state" / committed_rel)
    assert os.path.isdir(committed_dir)

    # redeliver the same batch_id, but crash AT the commit point: the
    # previously committed dir must still exist and be readable
    real_commit = sink._commit_pointer
    sink._commit_pointer = lambda *a, **kw: (_ for _ in ()).throw(
        OSError("crash")
    )
    with pytest.raises(OSError):
        sink.apply_batch(b, batch_id=1)
    sink._commit_pointer = real_commit
    assert os.path.isdir(committed_dir), (
        "redelivery deleted the committed version dir pre-commit"
    )
    assert {
        (r["pk"], r["val"]) for r in sink.read_state().collect()
    } == {(1, "a2")}

    # the completed redelivery converges; its dir is the suffixed one
    sink.apply_batch(b, batch_id=1)
    deltas = sink._read_meta()["deltas"]["users"]
    rel2 = deltas[-1]
    assert deltas[0] == committed_rel
    assert rel2 != committed_rel and rel2.startswith(committed_rel)
    assert {
        (r["pk"], r["val"]) for r in sink.read_state().collect()
    } == {(1, "a2")}
    sink.compact()
    assert {
        (r["pk"], r["val"]) for r in sink.read_state().collect()
    } == {(1, "a2")}
    assert os.path.isdir(committed_dir)  # superseded; GC is next round's
    sink.apply_batch(spark.createDataFrame([], SCHEMA), batch_id=2)
    assert not os.path.isdir(committed_dir)  # garbage only POST-commit


def test_orphan_version_dir_is_reclaimed_not_suffixed(spark, tmp_path):
    """A colliding dir that NO committed pointer references is an orphan
    of a delivery (or compaction) that died pre-commit: it is cleared
    and the canonical name reused (no unbounded .rN growth from crash
    loops)."""
    import os

    sink = _manual_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)
    for name in ("d_1", "v_1"):
        orphan = tmp_path / "state" / "tables" / "users" / name
        os.makedirs(orphan)
        (orphan / "garbage.parquet").write_bytes(b"not parquet")
    sink.apply_batch(spark.createDataFrame(USERS_ONLY, SCHEMA), batch_id=1)
    assert sink._read_meta()["deltas"]["users"][-1] == "tables/users/d_1"
    sink.compact()
    assert sink._read_pointer()["users"] == "tables/users/v_1"
    assert {
        (r["pk"], r["val"])
        for r in sink.read_state().filter("table_name='users'").collect()
    } == {(1, "a2")}


def test_redelivery_with_history_preserves_asof_reads(spark, tmp_path):
    """retain_history: every logged pointer stays readable across a
    redelivery — the suffixed dir keeps history entries valid."""
    sink = ParquetStateSink(
        spark, str(tmp_path / "state"), pk_cols=["pk"], retain_history=True
    )
    sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)
    sink.apply_batch(spark.createDataFrame(USERS_ONLY, SCHEMA), batch_id=1)
    # redeliver batch 1 (offset-commit crash shape)
    sink.apply_batch(spark.createDataFrame(USERS_ONLY, SCHEMA), batch_id=1)
    asof0 = {
        (r["table_name"], r["pk"], r["val"])
        for r in sink.read_state_asof(0).collect()
    }
    assert ("users", 1, "a") in asof0
    assert {
        (r["pk"], r["val"])
        for r in sink.read_state().filter("table_name='users'").collect()
    } == {(1, "a2")}


def test_marker_table_names_round_trip(spark, tmp_path):
    """A table named __HIVE_DEFAULT_PARTITION__ (Spark's partition-dir
    marker for null/empty values) and the empty-string table are two
    tables: the driver writes each key's delta into its own quoted dir,
    where no table name is special, so both store, compact and read
    back under their own keys."""
    marker = "__HIVE_DEFAULT_PARTITION__"
    sink = _manual_sink(spark, tmp_path)
    rows = [(1, "INSERT", marker, 1, "x"), (2, "INSERT", "", 1, "y")]
    sink.apply_batch(spark.createDataFrame(rows, SCHEMA), batch_id=0)
    want = {(marker, 1, "x"), ("", 1, "y")}

    def state():
        return {
            (r["table_name"], r["pk"], r["val"])
            for r in sink.read_state().collect()
        }

    assert set(sink._read_meta()["deltas"]) == {marker, ""}
    assert state() == want
    sink.compact()
    assert set(sink._read_pointer()) == {marker, ""}
    assert state() == want
    sink.apply_batch(
        spark.createDataFrame([(3, "UPDATE", marker, 1, "x2")], SCHEMA),
        batch_id=1,
    )
    assert set(sink._read_meta()["deltas"]) == {marker}
    assert state() == {(marker, 1, "x2"), ("", 1, "y")}


def test_state_sink_abc_default_batch_stats(spark):
    """The StateSink base class (VERDICT r14 #9): every sink inherits a
    batch_stats returning (max_id, n) and an apply_observed built on it,
    so the poller can never AttributeError again; MergeStateSink uses
    the defaults."""
    from warp_pipe_spark.merge_sink import InMemoryMergeExecutor, MergeStateSink
    from warp_pipe_spark.streaming import StateSink

    sink = MergeStateSink(spark, InMemoryMergeExecutor(spark))
    assert isinstance(sink, StateSink)
    batch = spark.createDataFrame(MULTI, SCHEMA)
    assert sink.batch_stats(batch) == (3, 3)
    empty = spark.createDataFrame([], SCHEMA)
    assert sink.batch_stats(empty) == (None, 0)
    assert sink.apply_observed(empty, batch_id=0) == (None, 0)
    assert sink.read_state() is None or sink.read_state().count() == 0
    assert sink.apply_observed(batch, batch_id=0) == (3, 3)
    assert sink.read_state().count() == 3


# --- merge-on-read commit protocol -------------------------------------


def _rows(df):
    return None if df is None else {tuple(r) for r in df.collect()}


def test_steady_keyset_round_is_one_spark_job(spark, tmp_path):
    """A steady keyset round is ONE Spark job, the Arrow collect of the
    fetch: the batch's (max_id, n) come from the collected id column and
    the driver writes the deltas, so the job writes no Spark output — no
    stats job, no persist, no old-state read. Counted by job group, which
    the compaction worker's thread does not carry."""
    import uuid

    from warp_pipe_spark.streaming import KeysetPoller, dataframe_keyset_fetch

    log = spark.createDataFrame(
        [(i, "UPDATE", f"t{i % 3}", i % 97, f"v{i}") for i in range(1, 2001)],
        SCHEMA,
    ).cache()
    log.count()
    sink = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    poller = KeysetPoller(
        spark, dataframe_keyset_fetch(log), sink, str(tmp_path / "off.json"),
        limit=400,
    )
    assert poller.poll_once() == 400  # first round, onto empty state
    sink.compact()
    sc = spark.sparkContext
    jobs = []
    try:
        for _ in range(3):
            group = f"steady-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "steady keyset round")
            assert poller.poll_once() == 400
            jobs.append(list(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc._jsc.clearJobGroup()
        log.unpersist()
    assert [len(j) for j in jobs] == [1, 1, 1]
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    written = [
        jsc.statusStore().lastStageAttempt(sid).outputBytes()
        for j in jobs
        for sid in sc.statusTracker().getJobInfo(j[0]).stageIds
    ]
    assert written and set(written) == {0}
    want = replay(log.filter("id <= 1600"), ["pk"])
    assert _rows(sink.read_state().select(*log.columns)) == _rows(want)


class _CrashAt:
    """os.replace stand-in that raises on its `n`-th call (never when
    n=0) and counts the calls."""

    def __init__(self, n):
        import os

        self.n, self.calls, self.real = n, 0, os.replace

    def __call__(self, src, dst):
        self.calls += 1
        if self.calls == self.n:
            raise OSError(f"crash at os.replace #{self.n}")
        return self.real(src, dst)


@pytest.mark.parametrize("phase", ["append", "compact"])
def test_crash_at_every_replace_leaves_a_committed_prefix(
    spark, tmp_path, monkeypatch, phase
):
    """Fail the Nth os.replace of an append (GC commit, pointer commit)
    or of a compaction (base renames, pointer commits), for every N: a
    restarted sink reads a committed prefix, and replay converges to the
    no-crash state."""
    import os

    b0 = spark.createDataFrame(MULTI, SCHEMA)
    b1 = spark.createDataFrame(
        [(4, "UPDATE", "users", 1, "a2"), (5, "INSERT", "pets", 3, "max"),
         (6, "DELETE", "pets", 1, None)],
        SCHEMA,
    )
    s0 = {("users", 1, "a"), ("pets", 1, "rex"), ("pets", 2, "ada")}
    s1 = {("users", 1, "a2"), ("pets", 2, "ada"), ("pets", 3, "max")}

    def state(sink):
        return {
            (r["table_name"], r["pk"], r["val"])
            for r in sink.read_state().collect()
        }

    def run(state_dir, crash_at):
        sink = _no_worker(ParquetStateSink(spark, state_dir, pk_cols=["pk"]))
        sink.apply_batch(b0, batch_id=0)
        sink.compact()  # leaves garbage: the next append GC-commits first
        if phase == "compact":
            sink.apply_batch(b1, batch_id=1)
        crash = _CrashAt(crash_at)
        monkeypatch.setattr(os, "replace", crash)
        try:
            if phase == "append":
                sink.apply_batch(b1, batch_id=1)
            else:
                sink.compact()
        finally:
            monkeypatch.setattr(os, "replace", crash.real)
        return crash.calls

    n_replaces = run(str(tmp_path / "clean"), 0)
    assert n_replaces >= (2 if phase == "append" else 4)
    for n in range(1, n_replaces + 1):
        state_dir = str(tmp_path / f"crash{n}")
        with pytest.raises(OSError, match="crash at os.replace"):
            run(state_dir, n)
        restarted = _no_worker(
            ParquetStateSink(spark, state_dir, pk_cols=["pk"])
        )
        assert state(restarted) in ((s0, s1) if phase == "append" else (s1,))
        if phase == "append":
            restarted.apply_batch(b1, batch_id=1)  # redelivery
        assert state(restarted) == s1
        restarted.compact()
        assert state(restarted) == s1
        assert restarted._read_meta()["deltas"] == {}


@pytest.mark.parametrize("n_buckets", [None, 4])
def test_reads_identical_before_and_after_compact(spark, tmp_path, n_buckets):
    """read_state() and read_state_asof() fold base ∪ deltas on read;
    compaction folds the same rows into bases, so both return identical
    rows before and after compact()."""
    sink = _manual_sink(
        spark, tmp_path, n_buckets=n_buckets, retain_history=True
    )
    batches = [
        MULTI,
        BATCH2 + [(7, "INSERT", "pets", 4, "kit")],
        [(8, "DELETE", "pets", 2, None), (9, "UPDATE", "users", 3, "c2")],
    ]
    for batch_id, rows in enumerate(batches):
        sink.apply_batch(spark.createDataFrame(rows, SCHEMA), batch_id=batch_id)
    sink.compact()  # batches 0-2 in bases ...
    sink.apply_batch(
        spark.createDataFrame([(10, "UPDATE", "pets", 4, "kat")], SCHEMA),
        batch_id=3,
    )  # ... batch 3 a delta
    meta = sink._read_meta()
    # reads mix both paths: delta-free bases scanned plain, pets folded
    assert meta["deltas"] and all(k.startswith("pets") for k in meta["deltas"])
    assert any(k.startswith("users") for k in meta["tables"])

    def reads():
        return _rows(sink.read_state()), [
            _rows(sink.read_state_asof(b)) for b in range(-1, 5)
        ]

    before = reads()
    sink.compact()
    assert sink._read_meta()["deltas"] == {}
    assert reads() == before
    assert before[0] == _rows(
        replay(
            spark.createDataFrame(
                [r for rows in batches for r in rows]
                + [(10, "UPDATE", "pets", 4, "kat")],
                SCHEMA,
            ),
            ["pk"],
        )
    )


def test_compaction_worker_folds_bounds_debt_and_surfaces_errors(spark, tmp_path):
    """The background worker folds due keys; a key at twice the cap
    makes the round wait for it; a worker error re-raises on the next
    apply_batch."""
    import time

    sink = _mk_sink(spark, tmp_path)
    sink.COMPACT_DELTAS = 1  # every delta is due, a second one is debt
    sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)
    with sink._cv:
        assert sink._cv.wait_for(lambda: sink._worker is None, timeout=120)
    meta = sink._read_meta()
    assert meta["deltas"] == {} and set(meta["tables"]) == {"users", "pets"}

    real = ParquetStateSink._compact_key

    def slow(key, only_if_due=False):
        time.sleep(1.0)
        real(sink, key, only_if_due)

    sink._compact_key = slow
    sink.apply_batch(spark.createDataFrame(USERS_ONLY, SCHEMA), batch_id=1)
    sink.apply_batch(
        spark.createDataFrame([(5, "UPDATE", "users", 1, "a3")], SCHEMA),
        batch_id=2,
    )
    # the second delta put users at 2x the cap: the round waited
    assert sink._read_meta()["deltas"] == {}

    def boom(key, only_if_due=False):
        raise RuntimeError("compaction failed")

    sink._compact_key = boom
    sink.apply_batch(
        spark.createDataFrame([(6, "UPDATE", "users", 1, "a4")], SCHEMA),
        batch_id=3,
    )
    with sink._cv:
        assert sink._cv.wait_for(lambda: sink._worker is None, timeout=120)
    with pytest.raises(RuntimeError, match="compaction failed"):
        sink.apply_batch(spark.createDataFrame([], SCHEMA), batch_id=4)
    # nothing committed was lost, and the sink recovers
    del sink._compact_key
    assert {
        (r["pk"], r["val"])
        for r in sink.read_state().filter("table_name='users'").collect()
    } == {(1, "a4")}
    sink.compact()
    assert sink._read_meta()["deltas"] == {}


@pytest.mark.parametrize("n_buckets", [None, 2])
def test_read_state_past_the_listing_threshold_lists_no_job(
    spark, tmp_path, listing_threshold, job_descriptions, n_buckets
):
    """read_state() over more key dirs than Spark's parallel-listing
    threshold lists the dirs the pointer names on the driver, for the
    plain bases and the folded keys alike: it launches no job before its
    action, and returns the replayed rows."""
    sink = _manual_sink(spark, tmp_path, n_buckets=n_buckets)
    log = [(i, "INSERT", f"t{i % 12}", i, f"v{i}") for i in range(1, 25)]
    log_1 = [(100 + i, "UPDATE", f"t{i % 12}", i, f"w{i}") for i in range(1, 25)
             if i % 12 < 6]
    sink.apply_batch(spark.createDataFrame(log, SCHEMA), batch_id=0)
    sink.compact()
    sink.apply_batch(spark.createDataFrame(log_1, SCHEMA), batch_id=1)
    meta = sink._read_meta()
    plain = set(meta["tables"]) - set(meta["deltas"])
    assert len(plain) > listing_threshold
    assert len(meta["deltas"]) > listing_threshold
    state, jobs = job_descriptions(sink.read_state)
    assert jobs == []
    want = replay(spark.createDataFrame(log + log_1, SCHEMA), ["pk"])
    assert _rows(state.select(*want.columns)) == _rows(want)


def test_compact_past_the_listing_threshold_lists_no_job(
    spark, tmp_path, listing_threshold, job_descriptions
):
    """compact() of a key holding more deltas than Spark's
    parallel-listing threshold reads them on the driver with pyarrow: it
    launches no Spark job at all, listing or fold, and the folded rows
    are the replay's."""
    sink = _manual_sink(spark, tmp_path)
    log = [(i, "INSERT" if i <= 3 else "UPDATE", "users", i % 3, f"v{i}")
           for i in range(1, 9)]
    for batch_id, row in enumerate(log):
        sink.apply_batch(spark.createDataFrame([row], SCHEMA), batch_id=batch_id)
    assert len(sink._read_meta()["deltas"]["users"]) > listing_threshold
    folded, jobs = job_descriptions(sink.compact)
    assert folded == 1
    assert jobs == []
    assert sink._read_meta()["deltas"] == {}
    assert _rows(sink.read_state()) == _rows(
        replay(spark.createDataFrame(log, SCHEMA), ["pk"])
    )


def test_compaction_worker_launches_no_spark_job(spark, tmp_path):
    """With every delta due, the worker folds each key on the driver:
    between two marker jobs, the only Spark jobs are the rounds' (each
    one Arrow collect), though the worker compacted every key before
    close() returned. Spark's job ids are one sequence, so a job any
    thread ran in between has an id between the markers'."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job() -> int:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "marker")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc._jsc.clearJobGroup()
        (job,) = tracker.getJobIdsForGroup(group)
        return job

    sink = _mk_sink(spark, tmp_path)
    sink.COMPACT_DELTAS = 1  # every delta is due
    batches = [spark.createDataFrame(rows, SCHEMA) for rows in (MULTI, USERS_ONLY)]
    rounds = f"rounds-{uuid.uuid4().hex}"
    first = marker_job()
    sc.setJobGroup(rounds, "state-sink rounds")
    try:
        for batch_id, batch in enumerate(batches, start=1):
            sink.apply_batch(batch, batch_id=batch_id)
    finally:
        sc._jsc.clearJobGroup()
    sink.close()
    last = marker_job()
    meta = sink._read_meta()
    assert meta["deltas"] == {} and set(meta["tables"]) == {"users", "pets"}
    assert meta["tables"]["users"].endswith("v_2")  # folded after the last round
    round_jobs = set(tracker.getJobIdsForGroup(rounds))
    assert len(round_jobs) == len(batches)
    assert set(range(first + 1, last)) - round_jobs == set()
    assert _rows(sink.read_state()) == _rows(
        replay(spark.createDataFrame(MULTI + USERS_ONLY, SCHEMA), ["pk"])
    )


@pytest.mark.parametrize("missing", ["schema", "deltas"])
def test_pointer_of_an_older_version_is_refused(spark, tmp_path, missing):
    """A pointer that names committed dirs but lacks their schema or the
    deltas map was written by an older version: reads and appends refuse
    it with a StateCorruptError that says to replay into a fresh state
    dir, rather than guessing its schema from the dirs."""
    import json

    from warp_pipe_spark.streaming import StateCorruptError

    sink = _manual_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)
    sink.compact()
    path = tmp_path / "state" / "_POINTER.json"
    meta = json.loads(path.read_text())
    del meta[missing]
    path.write_text(json.dumps(meta))
    for op in (
        sink.read_state,
        lambda: sink.apply_batch(spark.createDataFrame(USERS_ONLY, SCHEMA), 1),
    ):
        with pytest.raises(StateCorruptError, match="fresh state dir"):
            op()


def test_appends_racing_the_worker_lose_no_delta(spark, tmp_path):
    """Stress: every append makes a key due, so the worker compacts
    while the caller keeps appending (switch interval shortened to
    interleave the threads more often). A compaction commit that dropped
    a delta appended meanwhile, an append that lost a compaction's base,
    or a truncate racing a fold of its table would show as a state
    differing from the one-shot replay."""
    import sys

    sink = _mk_sink(spark, tmp_path)
    sink.COMPACT_DELTAS = 1
    rows = [
        (i, ("INSERT", "UPDATE", "UPDATE", "DELETE")[i % 4], f"t{i % 3}", i % 7, f"v{i}")
        if i % 25
        else (i, "truncate", f"t{i % 3}", None, None)
        for i in range(1, 121)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for b in range(20):
            chunk = rows[6 * b: 6 * b + 6]
            sink.apply_batch(spark.createDataFrame(chunk, SCHEMA), batch_id=b)
        sink.compact()
    finally:
        sys.setswitchinterval(interval)
    assert sink._read_meta()["deltas"] == {}
    assert _state_rows(sink) == _truncate_oracle(spark, rows)


def test_run_until_drained_closes_the_sink(spark, tmp_path):
    """No compaction outlives a drained tail: run_until_drained closes
    the sink, which waits for the worker and deletes the dirs its
    compactions superseded, so only the live pointer's dirs stay on
    disk; close() re-raises a worker error."""
    import os

    from warp_pipe_spark.streaming import KeysetPoller, dataframe_keyset_fetch

    rows = [
        (i, ("INSERT", "UPDATE")[i % 2], f"t{i % 2}", i % 5, f"v{i}")
        for i in range(1, 41)
    ]
    sink = _mk_sink(spark, tmp_path)
    sink.COMPACT_DELTAS = 2
    poller = KeysetPoller(
        spark, dataframe_keyset_fetch(spark.createDataFrame(rows, SCHEMA)),
        sink, str(tmp_path / "off.json"), limit=4,
    )
    assert poller.run_until_drained() == len(rows)
    assert sink._worker is None
    meta = sink._read_meta()
    assert meta["garbage"] == []
    on_disk = {
        os.path.relpath(d, sink.state_dir)
        for d, _, fs in os.walk(os.path.join(sink.state_dir, "tables"))
        if any(f.endswith(".parquet") for f in fs)
    }
    assert on_disk == set(sink._rels(meta))
    assert _rows(sink.read_state()) == _rows(
        replay(spark.createDataFrame(rows, SCHEMA), ["pk"])
    )

    def boom(key, only_if_due=False):
        raise RuntimeError("compaction failed")

    sink.compact()
    sink.COMPACT_DELTAS = 1  # the next delta is due at once
    sink._compact_key = boom
    sink.apply_batch(
        spark.createDataFrame([(50, "UPDATE", "t0", 1, "x")], SCHEMA),
        batch_id=40,
    )
    with pytest.raises(RuntimeError, match="compaction failed"):
        sink.close()


# --- Arrow-written deltas ----------------------------------------------


TYPED = (
    SCHEMA
    + ", b BYTE, s SHORT, i INT, f FLOAT, d DOUBLE, m DECIMAL(18,2),"
    " big DECIMAL(38,10), ok BOOLEAN, bin BINARY, day DATE, ts TIMESTAMP,"
    " ntz TIMESTAMP_NTZ, tags ARRAY<STRING>, attrs MAP<STRING,BIGINT>,"
    " nest STRUCT<a: INT, inner: STRUCT<c: STRING, xs: ARRAY<DOUBLE>>>"
)


def _typed_rows(first_id, n, action, val):
    """`n` TYPED rows over tables a/b, pks 0-6; every fifth row is null
    in all the typed columns. Every third row carries ancient values (a
    date from year 1, timestamps from 1800): pyarrow-written files hold
    no Spark version, so they read back only if the reader does not
    apply the Julian-calendar rebase check to them."""
    import datetime as dt
    from decimal import Decimal

    out = []
    for k in range(n):
        i = first_id + k
        head = (i, action, ("a", "b")[k % 2], k % 7, val)
        if i % 5 == 0:
            out.append(head + (None,) * 15)
            continue
        year = 1800 if i % 3 == 0 else 2024
        out.append(head + (
            (-1) ** i * (i % 128), i * 300, i * 70_000, i / 3, i / 7,
            Decimal(f"{i}.{i % 100:02d}"), Decimal(f"123456789012345678.{i:010d}"),
            i % 2 == 0, bytes([i % 256, 0, 255]),
            dt.date(1 if i % 3 == 0 else 2024, 1, 1) + dt.timedelta(days=i),
            dt.datetime(year, 1, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(seconds=i, microseconds=i),
            dt.datetime(year - 1, 12, 31, 23, 59) + dt.timedelta(microseconds=i),
            [f"t{i}", None], {f"k{i}": i, "z": None},
            (i, (f"c{i}", [i / 2, None])),
        ))
    return out


def _sorted_rows(df, cols):
    return sorted(
        (r.asDict(recursive=True) for r in df.select(*cols).collect()),
        key=lambda r: (r["table_name"], r["pk"]),
    )


def _fold_with_spark_writer(sink):
    """Fold every key that holds deltas the way compaction did before it
    ran on the driver: `replay` over Spark's read of the key's dirs,
    written by Spark's parquet writer as the key's new base."""
    import os

    meta = sink._read_meta()
    for key, deltas in sorted(meta["deltas"].items()):
        base = meta["tables"].get(key)
        table, bucket = sink._split_key(key)
        rel = f"tables/{table}/v_{meta['batch_id']}"
        if bucket is not None:
            rel += f"/{sink.BUCKET_PART}={bucket}"
        replay(
            sink._read_tables(([base] if base else []) + deltas, meta["schema"]),
            sink.pk_cols,
        ).write.parquet(os.path.join(sink.state_dir, rel))
        meta["tables"][key] = rel
    meta["deltas"] = {}
    sink._commit(meta)


@pytest.mark.parametrize("n_buckets", [None, 4])
def test_arrow_deltas_are_type_faithful(spark, tmp_path, n_buckets, request):
    """Deltas are written by pyarrow from the Arrow collect, and so are
    the bases compaction folds from them. Every column type reads back
    as it went in — from deltas alone, from folded bases, and from a
    base and a delta folded in one read. The upgrade path: bases that
    Spark's parquet writer wrote (as compaction did before it ran on the
    driver) mix the two writers' encodings (INT96 vs INT64 timestamps,
    INT64 vs fixed-length decimals) in a read, and a compaction folds
    them into pyarrow bases with the same rows. The session reads with
    the strictest rebase mode, so the ancient dates and timestamps prove
    the sink does not depend on it."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    mode = "spark.sql.parquet.datetimeRebaseModeInRead"
    prior = spark.conf.get(mode)
    spark.conf.set(mode, "EXCEPTION")
    request.addfinalizer(lambda: spark.conf.set(mode, prior))
    schema = T.StructType.fromDDL(TYPED)
    batches = [
        _typed_rows(1, 14, "INSERT", "v0"),
        _typed_rows(15, 10, "UPDATE", "v1") + [(25, "DELETE", "b", 1, None) + (None,) * 15],
        _typed_rows(26, 6, "UPDATE", "v2"),
    ]
    sink = _manual_sink(spark, tmp_path, n_buckets=n_buckets)
    upgraded = _manual_sink(spark, tmp_path / "upgrade", n_buckets=n_buckets)

    def check(sink, n_batches):
        got = sink.read_state()
        assert [f.dataType for f in got.schema] == [f.dataType for f in schema]
        want = replay(
            spark.createDataFrame(
                [r for rows in batches[:n_batches] for r in rows], schema
            ),
            ["pk"],
        )
        assert _sorted_rows(got, schema.names) == _sorted_rows(want, schema.names)

    def writers(sink, rels=None):
        return {
            pq.ParquetFile(f).metadata.created_by.split()[0]
            for rel in (sink._rels(sink._read_meta()) if rels is None else rels)
            for f in glob.glob(f"{sink.state_dir}/{rel}/*.parquet")
        }

    def apply(sink, b):
        sink.apply_batch(spark.createDataFrame(batches[b], schema), batch_id=b)

    def mixed_key(sink):
        meta = sink._read_meta()
        return next(k for k in sorted(meta["deltas"]) if k in meta["tables"])

    def key_rels(sink, key):
        meta = sink._read_meta()
        return [meta["tables"][key]] + meta["deltas"].get(key, [])

    for s in (sink, upgraded):
        apply(s, 0)
        apply(s, 1)
        assert writers(s) == {"parquet-cpp-arrow"}
        check(s, 2)  # deltas only
    sink.compact()
    assert writers(sink) == {"parquet-cpp-arrow"}
    check(sink, 2)  # folded bases only
    _fold_with_spark_writer(upgraded)
    assert writers(upgraded) == {"parquet-mr"}
    check(upgraded, 2)  # Spark-written bases only
    for s in (sink, upgraded):
        apply(s, 2)
        check(s, 3)  # a base and a delta of one key in one read
    key = mixed_key(upgraded)
    assert writers(upgraded, key_rels(upgraded, key)) == {
        "parquet-mr", "parquet-cpp-arrow",
    }
    for s in (sink, upgraded):
        s.compact()  # ... and in one fold
        check(s, 3)
    assert writers(sink) == {"parquet-cpp-arrow"}
    # the folded key's new base is pyarrow's; untouched keys keep theirs
    assert writers(upgraded, key_rels(upgraded, key)) == {"parquet-cpp-arrow"}


def test_compaction_refuses_a_legacy_rebased_base(spark, tmp_path, request):
    """A base Spark's writer wrote under the LEGACY rebase mode holds
    Julian-shifted pre-1582 values that only Spark's reader shifts back:
    compaction refuses it with StateCorruptError instead of folding
    shifted dates, and the committed state still reads as the replay."""
    from pyspark.sql import types as T

    from warp_pipe_spark.streaming import StateCorruptError

    mode = "spark.sql.parquet.datetimeRebaseModeInWrite"
    prior = spark.conf.get(mode)
    request.addfinalizer(lambda: spark.conf.set(mode, prior))
    schema = T.StructType.fromDDL(TYPED)
    log = _typed_rows(1, 6, "INSERT", "v0"), _typed_rows(7, 3, "UPDATE", "v1")
    sink = _manual_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(log[0], schema), batch_id=0)
    spark.conf.set(mode, "LEGACY")
    _fold_with_spark_writer(sink)
    spark.conf.set(mode, prior)
    sink.apply_batch(spark.createDataFrame(log[1], schema), batch_id=1)
    want = replay(spark.createDataFrame(log[0] + log[1], schema), ["pk"])
    assert _sorted_rows(sink.read_state(), schema.names) == _sorted_rows(
        want, schema.names
    )
    with pytest.raises(StateCorruptError, match="LEGACY"):
        sink.compact()
    assert _sorted_rows(sink.read_state(), schema.names) == _sorted_rows(
        want, schema.names
    )


def test_type_arrow_cannot_carry_raises_before_commit(spark, tmp_path):
    """A column type the Arrow collect cannot carry (year-month
    interval) fails the apply before any dir or pointer is written."""
    import os

    from pyspark.sql import functions as F

    sink = _manual_sink(spark, tmp_path)
    sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)
    before, state = sink._read_meta(), _rows(sink.read_state())
    bad = spark.createDataFrame(USERS_ONLY, SCHEMA).withColumn(
        "span", F.expr("INTERVAL '1-2' YEAR TO MONTH")
    )
    with pytest.raises(Exception, match="YearMonthIntervalType"):
        sink.apply_batch(bad, batch_id=1)
    assert sink._read_meta() == before
    assert _rows(sink.read_state()) == state
    assert not any("d_1" in rel for rel in sink._rels(sink._read_meta()))
    assert not os.path.exists(tmp_path / "state" / "tables" / "users" / "d_1")


@pytest.mark.parametrize("n_buckets", [None, 4])
def test_crash_in_delta_write_redelivers_to_no_crash_state(
    spark, tmp_path, monkeypatch, n_buckets
):
    """pyarrow's write_table raising on the second key of a multi-table
    batch leaves the pointer at the last commit; the redelivered batch
    reclaims the orphan delta dir (same name, no `.r<n>` suffix) and
    converges to the pointer and state of a run that never crashed."""
    import os

    import pyarrow.parquet as pq

    b1 = spark.createDataFrame(
        [(4, "UPDATE", "users", 1, "a2"), (5, "INSERT", "pets", 3, "max"),
         (6, "DELETE", "pets", 1, None)],
        SCHEMA,
    )

    def run(name, crash):
        sink = _manual_sink(spark, tmp_path / name, n_buckets=n_buckets)
        sink.apply_batch(spark.createDataFrame(MULTI, SCHEMA), batch_id=0)
        if crash:
            committed, state = sink._read_meta(), _rows(sink.read_state())
            real, calls = pq.write_table, []

            def write_table(*a, **kw):
                calls.append(a)
                if len(calls) == 2:
                    raise OSError("crash in write_table")
                return real(*a, **kw)

            monkeypatch.setattr(pq, "write_table", write_table)
            with pytest.raises(OSError, match="crash in write_table"):
                sink.apply_batch(b1, batch_id=1)
            monkeypatch.setattr(pq, "write_table", real)
            assert sink._read_meta() == committed
            assert _rows(sink.read_state()) == state
            # the first key's delta landed on disk, uncommitted
            assert os.path.isdir(os.path.join(sink.state_dir, "tables/pets/d_1"))
        sink.apply_batch(b1, batch_id=1)
        return sink

    clean, crashed = run("clean", False), run("crashed", True)
    assert crashed._read_meta() == clean._read_meta()
    assert _rows(crashed.read_state()) == _rows(clean.read_state())
    crashed.compact()
    assert _rows(crashed.read_state()) == _rows(clean.read_state())
