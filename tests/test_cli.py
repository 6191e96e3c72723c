"""§3.1 CLI streamer parity: JSON lines on stdout, StartFrom flags,
whitelist/ignore, setup/teardown DDL subcommands."""

import io
import json

import pytest

from warp_pipe_spark.__main__ import main


def test_setup_and_teardown_print_ddl():
    buf = io.StringIO()
    assert main(["setup-db"], out=buf) == 0
    ddl = buf.getvalue()
    assert "CREATE SCHEMA IF NOT EXISTS warp_pipe;" in ddl
    assert "CREATE TABLE IF NOT EXISTS warp_pipe.changesets" in ddl

    buf = io.StringIO()
    assert main(["teardown-db", "--schema", "wp2"], out=buf) == 0
    assert buf.getvalue().strip() == "DROP SCHEMA IF EXISTS wp2 CASCADE;"


def test_stream_requires_source():
    assert main([]) == 2


@pytest.fixture()
def audit_dir(spark, tmp_path):
    rows = [
        (1, None, "INSERT", "public", "users", 1, '{"id": 1, "name": "bob"}', None),
        (2, None, "INSERT", "public", "pets", 2, '{"id": 1, "name": "rex"}', None),
        (3, None, "UPDATE", "public", "users", 1, '{"id": 1, "name": "rob"}', '{"id": 1}'),
    ]
    schema = (
        "id LONG, ts TIMESTAMP, action STRING, schema_name STRING, "
        "table_name STRING, relid LONG, new_values STRING, old_values STRING"
    )
    path = str(tmp_path / "cs")
    spark.createDataFrame(rows, schema).write.parquet(path)
    return path


def test_stream_emits_json_lines_in_id_order(spark, audit_dir):
    buf = io.StringIO()
    assert main(["--source", audit_dir], out=buf) == 0
    lines = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert [d["id"] for d in lines] == [1, 2, 3]
    assert lines[0]["kind"] == "insert" and lines[0]["table"] == "users"
    assert lines[2]["new_values"]["name"] == "rob"


def test_stream_start_from_id_and_filters(spark, audit_dir):
    buf = io.StringIO()
    assert main(["--source", audit_dir, "--start-from-id", "2"], out=buf) == 0
    assert [json.loads(ln)["id"] for ln in buf.getvalue().splitlines()] == [2, 3]

    buf = io.StringIO()
    assert (
        main(["--source", audit_dir, "-i", "pets"], out=buf) == 0
    )  # ignore wins over everything, config.go semantics
    assert [json.loads(ln)["table"] for ln in buf.getvalue().splitlines()] == [
        "users",
        "users",
    ]


def test_bad_log_level_rejected(audit_dir):
    with pytest.raises(ValueError, match="invalid log level"):
        main(["--source", audit_dir, "-L", "verbose"])


def test_stream_normalized_form_emits_reference_shape(spark, tmp_path):
    """The non-audit branch (normalized array-form log): must emit the
    full reference wire shape in id order — this path selects only
    what to_reference_json projects."""
    from warp_pipe_spark.decoders import decode_wal2json

    msg = (
        '{"change":[{"id":2,"kind":"insert","schema":"public","table":"users",'
        '"columnnames":["id"],"columntypes":["integer"],"columnvalues":["9"]},'
        '{"id":1,"kind":"insert","schema":"public","table":"pets",'
        '"columnnames":["id"],"columntypes":["integer"],"columnvalues":["7"]}],'
        '"nextlsn":"0/AA"}'
    )
    path = str(tmp_path / "norm")
    decode_wal2json(spark.createDataFrame([(msg,)], "message STRING")).write.parquet(path)

    buf = io.StringIO()
    assert main(["--source", path], out=buf) == 0
    lines = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert [d["id"] for d in lines] == [1, 2]
    assert lines[0]["timestamp"] == "0001-01-01T00:00:00Z"
    assert lines[0]["new_values"] == [{"column": "id", "value": "7", "type": "integer"}]


def test_audit_stream_includes_timestamp_field(spark, audit_dir):
    buf = io.StringIO()
    assert main(["--source", audit_dir, "--limit", "1"], out=buf) == 0
    d = json.loads(buf.getvalue().splitlines()[0])
    assert d["timestamp"] == "0001-01-01T00:00:00Z"  # zero-time for null ts


def test_cli_corpus_clean_and_pack(spark, tmp_path, capsys):
    """The corpus subcommands run the dedup core / packing layout from
    the shell and write parquet."""
    import io

    from warp_pipe_spark.__main__ import main

    docs_dir = str(tmp_path / "docs")
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),                      # exact dup of 1 -> dropped
        (3, "completely different words live here with no overlap"),
    ]
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(docs_dir)

    out_clean = str(tmp_path / "clean")
    buf = io.StringIO()
    rc = main(["corpus-clean", "--docs", docs_dir, "--out", out_clean], out=buf)
    assert rc == 0 and "kept 2 of 3" in buf.getvalue()
    kept = {r["doc_id"] for r in spark.read.parquet(out_clean).collect()}
    assert kept == {1, 3}

    out_pack = str(tmp_path / "pack")
    buf = io.StringIO()
    rc = main(
        ["corpus-pack", "--docs", docs_dir, "--out", out_pack, "--chunk-tokens", "4"],
        out=buf,
    )
    assert rc == 0
    packed = spark.read.parquet(out_pack)
    assert packed.count() == 3
    assert set(packed.columns) == {
        "doc_id", "shard", "n_tokens", "tok_start", "chunk_first", "chunk_last"
    }


def test_cli_quality_gate(spark, tmp_path):
    """quality-gate routes a documents dir through the combined gate:
    accepted docs are PII-scrubbed, rejects carry audit reasons."""
    import io

    from warp_pipe_spark.__main__ import main
    from warp_pipe_spark.datapipe.ingest import CorpusQualityGateSink

    docs_dir = str(tmp_path / "docs")
    # 60 distinct words -> passes gopher's n_words >= 50; short doc fails
    long_text = " ".join(f"tok{i}ab" for i in range(60))
    rows = [(1, long_text + " mail me at bob@example.com ok"), (2, "too short")]
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(docs_dir)

    first = str(tmp_path / "first")
    spark.createDataFrame(rows[1:], "doc_id LONG, text STRING").write.parquet(first)
    out = str(tmp_path / "gated")
    for docs in (first, docs_dir):  # a rerun replaces the output
        buf = io.StringIO()
        rc = main(["quality-gate", "--docs", docs, "--out", out], out=buf)
        assert rc == 0
    msg = buf.getvalue()
    assert "-> " + out in msg and "accepted" in msg
    gated = CorpusQualityGateSink(spark, out)
    rej = {(r["doc_id"], r["reject_reason"]) for r in gated.rejected().collect()}
    assert any(d == 2 and "gopher" in rr for d, rr in rej)
    acc = gated.accepted()
    assert acc.count() + len(rej) == 2  # exactly the second run's docs
    if acc.count():  # accepted docs are scrubbed
        texts = [r["text"] for r in acc.collect()]
        assert all("bob@example.com" not in t for t in texts)


def test_cli_corpus_clean_keep_best(spark, tmp_path):
    """--keep-best keeps the argmax-classifier-scored doc per near-dup
    cluster (not the min id); the kept doc must match the score argmax
    computed independently here."""
    import hashlib
    import io

    from warp_pipe_spark.__main__ import main

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base + "tailone"),
        (2, base + "tailtwo"),  # near-dup of 1 (shares nearly all shingles)
        (3, "completely different content with no shared shingles at all"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(docs_dir)
    out = str(tmp_path / "clean")
    buf = io.StringIO()
    rc = main(
        ["corpus-clean", "--docs", docs_dir, "--out", out, "--keep-best"],
        out=buf,
    )
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}

    def score(text):
        def w(tok):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096
            return ((b + 1) * 2654435761) % 1000001 - 500000
        return sum(w(t) for t in text.split(" "))

    s1, s2 = score(rows[0][1]), score(rows[1][1])
    best = 1 if (s1, 1) > (s2, 2) else 2
    assert kept == {best, 3}, (kept, s1, s2)


def test_cli_keep_best_with_exact_dups_inside_cluster(spark, tmp_path):
    """Exact duplicates score identically, so an argmax over ALL
    cluster members tie-breaks to a doc_id that exact_dedup did NOT
    keep — the keepers semi-join then deletes the cluster winner while
    the drop list holds every other member, wiping the whole cluster.
    The argmax must run over exact-dedup keepers only, tie-breaking to
    the MIN doc_id (the representative exact_dedup keeps)."""
    import io

    from warp_pipe_spark.__main__ import main

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base + "tailone"),
        (2, base + "tailone"),  # exact dup of 1 (identical text/score)
        (3, base + "tailtwo"),  # near-dup: same cluster, distinct text
        (4, "completely different content with no shared shingles at all"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(docs_dir)
    out = str(tmp_path / "clean")
    buf = io.StringIO()
    rc = main(
        ["corpus-clean", "--docs", docs_dir, "--out", out, "--keep-best"],
        out=buf,
    )
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}

    def score(text):
        import hashlib

        def w(tok):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096
            return ((b + 1) * 2654435761) % 1000001 - 500000

        return sum(w(t) for t in text.split(" "))

    # keepers in the cluster are {1, 3} (2's text equals 1's, and
    # exact_dedup keeps the min id); the winner is the best-scored
    # keeper — never doc 2, and never the empty set
    s1, s3 = score(rows[0][1]), score(rows[2][1])
    best = 1 if (s1, -1) > (s3, -3) else 3
    assert kept == {best, 4}, (kept, s1, s3)


def test_stream_filters_work_on_decoded_shape(spark, tmp_path):
    """-w/-i and --limit must address the DECODED shape's column names
    (schema/table), not the audit names (schema_name/table_name) —
    before the shape-aware fix these flags crashed with an unresolved
    column on exactly the sources the else-branch exists for."""
    from warp_pipe_spark.decoders import decode_wal2json

    msg = (
        '{"change":[{"id":1,"kind":"insert","schema":"public","table":"pets",'
        '"columnnames":["id"],"columntypes":["integer"],"columnvalues":["7"]},'
        '{"id":2,"kind":"insert","schema":"public","table":"users",'
        '"columnnames":["id"],"columntypes":["integer"],"columnvalues":["9"]}],'
        '"nextlsn":"0/AA"}'
    )
    path = str(tmp_path / "norm2")
    decode_wal2json(
        spark.createDataFrame([(msg,)], "message STRING")
    ).write.parquet(path)

    buf = io.StringIO()
    assert main(["--source", path, "-i", "pets"], out=buf) == 0
    lines = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert [d["table"] for d in lines] == ["users"]

    # --limit 0 means zero rows, not 'no limit'
    buf = io.StringIO()
    assert main(["--source", path, "--limit", "0"], out=buf) == 0
    assert buf.getvalue() == ""

    # explicit -M forces the branch on an ambiguous source
    buf = io.StringIO()
    assert main(["--source", path, "-M", "lr"], out=buf) == 0
    assert len(buf.getvalue().splitlines()) == 2


def test_cli_live_tail_pgoutput_requires_publication(capsys):
    from warp_pipe_spark.__main__ import main

    rc = main(
        [
            "live-tail", "--dbname", "d", "--user", "u", "--slot", "s",
            "--plugin", "pgoutput", "--drop-dir", "/tmp/nope",
        ]
    )
    assert rc == 2
    assert "requires --publication" in capsys.readouterr().err


def test_cli_live_tail_wal2json_against_fake_walsender(tmp_path, capsys):
    """The CLI's LR mode end-to-end, Spark-free: socket -> drop dir,
    bounded drain, one JSON status line — the reference CLI's stream
    command restated. Driven against the wire-level fake walsender."""
    import json as _json
    import os as _os

    from test_lr_client import WAL2JSON_DOCS, FakeWalsender

    from warp_pipe_spark.__main__ import main

    srv = FakeWalsender(WAL2JSON_DOCS[:3], keepalive_every=100)
    drop = str(tmp_path / "drop")
    rc = main(
        [
            "live-tail", "--host", "127.0.0.1", "--port", str(srv.port),
            "--dbname", "testdb", "--user", "u", "--slot", "wp_slot",
            "--create-slot", "--drop-dir", drop, "--max-messages", "3",
        ]
    )
    assert rc == 0
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status == {
        "consumed": 3,
        "drop_dir": drop,
        "plugin": "wal2json",
        "bootstrap_rows": None,  # no --bootstrap-table given
        "start_lsn": 0,
    }
    lines = []
    for fn in sorted(_os.listdir(drop)):
        with open(_os.path.join(drop, fn), "rb") as f:
            lines += f.read().splitlines()
    assert lines == WAL2JSON_DOCS[:3]
    assert srv.created_slots == ["wp_slot"]
    srv.thread.join(5)


def test_cli_live_tail_pgoutput_against_fake_walsender(tmp_path, capsys):
    import json as _json
    import os as _os

    from test_lr_client import FakeWalsender
    from test_pgoutput import REL, msg_begin, msg_commit, msg_insert

    from warp_pipe_spark.__main__ import main

    payloads = [
        REL,
        msg_begin(lsn=0x1000),
        msg_insert(5001, "1", "a"),
        msg_insert(5001, "2", "b"),
        msg_commit(end_lsn=0x1100),
    ]
    srv = FakeWalsender(payloads, keepalive_every=100)
    drop = str(tmp_path / "drop")
    rc = main(
        [
            "live-tail", "--host", "127.0.0.1", "--port", str(srv.port),
            "--dbname", "testdb", "--user", "u", "--slot", "wp_slot",
            "--plugin", "pgoutput", "--publication", "pub",
            "--create-slot", "--drop-dir", drop, "--max-messages", "2",
        ]
    )
    assert rc == 0
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["consumed"] == 2 and status["plugin"] == "pgoutput"
    docs = []
    for fn in sorted(_os.listdir(drop)):
        with open(_os.path.join(drop, fn)) as f:
            docs += [_json.loads(ln) for ln in f.read().splitlines()]
    assert len(docs) == 1 and len(docs[0]["change"]) == 2
    assert [c["columnvalues"] for c in docs[0]["change"]] == [
        ["1", "a"],
        ["2", "b"],
    ]
    srv.thread.join(5)


def test_cli_live_tail_pgoutput_v2_streamed_frames(tmp_path, capsys):
    """--proto-version 2: streamed S/E blocks + stream-commit through
    the CLI produce one drop-dir document, counted at a transaction
    boundary like the v1 path."""
    import json as _json
    import os as _os

    from test_lr_client import FakeWalsender
    from test_pgoutput import (
        REL,
        msg_insert,
        msg_stream_commit,
        msg_stream_start,
        sx,
    )

    from warp_pipe_spark.__main__ import main

    payloads = [
        msg_stream_start(700),
        sx(REL, 700),
        sx(msg_insert(5001, "1", "a"), 700),
        sx(msg_insert(5001, "2", "b"), 700),
        b"E",
        msg_stream_commit(700, end_lsn=0x2000),
    ]
    srv = FakeWalsender(payloads, keepalive_every=100)
    drop = str(tmp_path / "drop")
    rc = main(
        [
            "live-tail", "--host", "127.0.0.1", "--port", str(srv.port),
            "--dbname", "testdb", "--user", "u", "--slot", "wp_slot",
            "--plugin", "pgoutput", "--publication", "pub",
            "--proto-version", "2",
            "--create-slot", "--drop-dir", drop, "--max-messages", "2",
        ]
    )
    assert rc == 0
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["consumed"] == 2
    docs = []
    for fn in sorted(_os.listdir(drop)):
        with open(_os.path.join(drop, fn)) as f:
            docs += [_json.loads(ln) for ln in f.read().splitlines()]
    assert len(docs) == 1 and docs[0]["nextlsn"] == "0/2000"
    assert [c["columnvalues"] for c in docs[0]["change"]] == [
        ["1", "a"],
        ["2", "b"],
    ]
    srv.thread.join(5)


def test_cli_bootstrap_requires_out_path(capsys):
    from warp_pipe_spark.__main__ import main

    rc = main(
        [
            "live-tail", "--dbname", "d", "--user", "u", "--slot", "s",
            "--drop-dir", "/tmp/x", "--bootstrap-table", "public.t",
        ]
    )
    assert rc == 2
    assert "--bootstrap-out" in capsys.readouterr().err


def test_cli_live_tail_pgoutput_binary_mode(tmp_path, capsys):
    """--binary: the CLI negotiates `binary 'on'` in START_REPLICATION
    and binary tuple cells decode to canonical text in the drop dir —
    the flag is plumbing, the rendering is the decoder's."""
    import json as _json
    import os as _os
    import struct as _struct

    from test_lr_client import FakeWalsender
    from test_pgoutput import REL, msg_begin, msg_commit, msg_insert_binary

    from warp_pipe_spark.__main__ import main

    payloads = [
        REL,  # (id bigint, val text)
        msg_begin(lsn=0x1000),
        msg_insert_binary(5001, _struct.pack("!q", 42), "x".encode()),
        msg_commit(end_lsn=0x1100),
    ]
    srv = FakeWalsender(payloads, keepalive_every=100)
    drop = str(tmp_path / "drop")
    rc = main(
        [
            "live-tail", "--host", "127.0.0.1", "--port", str(srv.port),
            "--dbname", "testdb", "--user", "u", "--slot", "wp_slot",
            "--plugin", "pgoutput", "--publication", "pub", "--binary",
            "--create-slot", "--drop-dir", drop, "--max-messages", "1",
        ]
    )
    assert rc == 0
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["consumed"] == 1
    (start_cmd,) = srv.start_commands
    assert 'binary \'on\'' in start_cmd or 'binary "on"' in start_cmd.replace("'", '"')
    docs = []
    for fn in sorted(_os.listdir(drop)):
        with open(_os.path.join(drop, fn)) as f:
            docs += [_json.loads(ln) for ln in f.read().splitlines()]
    assert docs[0]["change"][0]["columnvalues"] == ["42", "x"]
    srv.thread.join(5)


@pytest.mark.soak
def test_cli_corpus_curate_end_to_end(spark, tmp_path, capsys):
    """ONE command from documents parquet to curated WebDataset
    shards (VERDICT r11 item 6): all optional stages on, stats JSON +
    manifest lines on stdout, shards on disk, deterministic across
    reruns, and every stage visibly bites on the real sf0.001 corpus."""
    import json

    from warp_pipe_spark.__main__ import main

    docs_dir = "/root/testdata/sf0.001/documents.parquet"
    bench_dir = str(tmp_path / "bench")
    # stand-in eval set: every 50th document
    spark.read.parquet(docs_dir).filter("doc_id % 50 = 0").select(
        "doc_id", "text"
    ).write.parquet(bench_dir)

    out = str(tmp_path / "curated")
    argv = [
        "corpus-curate", "--docs", docs_dir, "--out", out,
        "--min-line-docs", "2", "--benchmark", bench_dir,
        "--alpha", "0.5", "--budget", "20000", "--n-shards", "4",
    ]
    assert main(argv) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    stats = json.loads(lines[0])["stats"]
    manifest = [json.loads(ln) for ln in lines[1:]]

    import os

    # the funnel is monotone and every enabled stage bites
    assert stats["n_input"] == 500
    assert 0 < stats["n_after_dedup"] <= stats["n_input"]
    assert stats["n_decontaminated"] > 0
    assert 0 < stats["n_after_gate"] <= stats["n_after_dedup"]
    assert 0 < stats["n_after_mix"] <= stats["n_after_gate"]
    assert 0 < stats["n_selected"] <= stats["n_after_mix"]
    assert stats["n_sharded"] == stats["n_selected"]
    assert stats["n_shards"] == len(manifest) <= 4
    for d in manifest:
        assert os.path.exists(
            os.path.join(out, f"shard-{d['shard']:05d}.tar")
        )

    # rerun -> byte-identical shards (manifest hashes equal)
    out2 = str(tmp_path / "curated2")
    argv2 = list(argv)
    argv2[argv2.index(out)] = out2
    assert main(argv2) == 0
    lines2 = capsys.readouterr().out.strip().splitlines()
    manifest2 = [json.loads(ln) for ln in lines2[1:]]
    assert [d["sha256"] for d in manifest2] == [
        d["sha256"] for d in manifest
    ]


def test_cli_corpus_curate_span_scrub_stage(spark, tmp_path, capsys):
    """--dedup-spans wires ExactSubstr removal into the one-command
    pipeline: a doc whose only content is another doc's repeated span
    shrinks to empty text before the gate (which then rejects it)."""
    import json
    import os

    from warp_pipe_spark.__main__ import main

    span = " ".join(f"tok{i}" for i in range(8))
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, span + " unique tail one two three"),
            (2, span),  # pure repeat of doc 1's span -> scrubbed empty
            (3, "independent document body here"),
        ],
        "doc_id LONG, text STRING",
    ).write.parquet(docs_dir)
    out = str(tmp_path / "cur")
    rc = main(
        ["corpus-curate", "--docs", docs_dir, "--out", out,
         "--dedup-spans", "8", "--n-shards", "1"]
    )
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    stats = json.loads(lines[0])["stats"]
    assert stats["n_input"] == 3
    # doc 2 survives dedup (not an exact/near dup at MinHash scale)
    # but its text is fully scrubbed by the span stage; the manifest
    # stays consistent with the funnel even when the downstream gate
    # (min-words) rejects the tiny fixture docs entirely
    assert stats["n_after_dedup"] == 3
    assert stats["n_nonempty_after_spanscrub"] == 2
    manifest = [json.loads(ln) for ln in lines[1:]]
    assert stats["n_sharded"] == sum(d["n_docs"] for d in manifest)
    for d in manifest:
        assert os.path.exists(
            os.path.join(out, f"shard-{d['shard']:05d}.tar")
        )


def test_cli_corpus_curate_dsir_stage(spark, tmp_path, capsys):
    """--dsir-target/--dsir-keep wire DSIR selection into the
    one-command pipeline: the funnel keeps exactly dsir_keep docs at
    that stage, drawn ∝ target-likeness, between the gate and the
    mixture stages; stats expose it as n_after_dsir."""
    import json
    import os

    from warp_pipe_spark.__main__ import main

    docs_dir = "/root/testdata/sf0.001/documents.parquet"
    tgt_dir = str(tmp_path / "tgt")
    spark.read.parquet(docs_dir).filter("source = 'src0'").select(
        "doc_id", "text"
    ).write.parquet(tgt_dir)

    out = str(tmp_path / "cur")
    rc = main(
        ["corpus-curate", "--docs", docs_dir, "--out", out,
         "--dsir-target", tgt_dir, "--dsir-keep", "120",
         "--n-shards", "2"]
    )
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    stats = json.loads(lines[0])["stats"]
    assert stats["n_after_dsir"] == 120
    assert stats["n_sharded"] == 120
    manifest = [json.loads(ln) for ln in lines[1:]]
    assert stats["n_sharded"] == sum(d["n_docs"] for d in manifest)
    for d in manifest:
        assert os.path.exists(
            os.path.join(out, f"shard-{d['shard']:05d}.tar")
        )


def test_curate_corpus_dsir_requires_keep(spark, tmp_path):
    import pytest as _pytest

    from warp_pipe_spark.datapipe.curate import curate_corpus

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id LONG, text STRING"
    )
    with _pytest.raises(ValueError, match="dsir_keep"):
        curate_corpus(
            docs, str(tmp_path / "o"), dsir_target=docs, dsir_keep=None
        )


def test_cli_corpus_curate_bloom_stage(spark, tmp_path, capsys):
    """--bloom-index wires the stage-0 cross-snapshot exact-key gate
    into the one-command pipeline: doc_ids held by the previous
    snapshot's bloom filter are dropped before any other stage (every
    held key gone — no false negatives — and the funnel's later
    stages see only the remainder); stats expose n_after_bloom_gate."""
    import json
    import os

    from pyspark.sql import functions as F

    from warp_pipe_spark.__main__ import main
    from warp_pipe_spark.datapipe.bloom import write_bloom

    docs_dir = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(docs_dir)
    n_docs = docs.count()
    prev = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("key")
    )
    n_prev = prev.count()
    idx = str(tmp_path / "bloom_idx")
    write_bloom(prev, idx, m_bits=1 << 16, k_hashes=4)

    out = str(tmp_path / "cur")
    rc = main(
        ["corpus-curate", "--docs", docs_dir, "--out", out,
         "--bloom-index", idx, "--n-shards", "2"]
    )
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    stats = json.loads(lines[0])["stats"]
    assert stats["n_input"] == n_docs
    # every previously-seen key is gone (no false negatives); false
    # positives can only push the count LOWER than the odd-id half
    assert stats["n_after_bloom_gate"] <= n_docs - n_prev
    assert stats["n_after_bloom_gate"] > 0
    assert stats["n_after_dedup"] <= stats["n_after_bloom_gate"]
    manifest = [json.loads(ln) for ln in lines[1:]]
    assert stats["n_sharded"] == sum(d["n_docs"] for d in manifest)
    for d in manifest:
        assert os.path.exists(
            os.path.join(out, f"shard-{d['shard']:05d}.tar")
        )
