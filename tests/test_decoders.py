"""Wire-format decoders — golden shapes from db/wal2json.go:4-26 and
the audit row model (db/sql.go:14-24), per FIXTURES.md §2."""

import json

from warp_pipe_spark.decoders import decode_audit_values, decode_wal2json

WAL2JSON_MSG = json.dumps(
    {
        "change": [
            {
                "id": 1,
                "kind": "insert",
                "schema": "public",
                "table": "users",
                "columnnames": ["id", "first_name", "last_name", "email"],
                "columntypes": ["integer", "text", "text", "text"],
                "columnvalues": [1, "Bob", "Silver", "bob@test.com"],
            },
            {
                "id": 2,
                "kind": "UPDATE",
                "schema": "public",
                "table": "users",
                "columnnames": ["id", "first_name"],
                "columntypes": ["integer", "text"],
                "columnvalues": [1, "Robert"],
                "oldkeys": {
                    "keynames": ["id"],
                    "keytypes": ["integer"],
                    "keyvalues": [1],
                },
            },
        ],
        "nextlsn": "0/17025E8",
    }
)


def test_wal2json_decode_explodes_and_zips(spark):
    df = spark.createDataFrame([(WAL2JSON_MSG,)], ["message"])
    out = decode_wal2json(df).orderBy("id").collect()
    assert len(out) == 2  # 1→N explode of the change array (P4)

    ins = out[0]
    assert ins["kind"] == "insert"
    assert ins["table"] == "users"
    assert [c["column"] for c in ins["new_values"]] == [
        "id",
        "first_name",
        "last_name",
        "email",
    ]  # column ORDER preserved (wal2json fidelity)
    assert [c["value"] for c in ins["new_values"]] == ["1", "Bob", "Silver", "bob@test.com"]
    assert ins["old_values"] is None  # no oldkeys on insert
    assert ins["nextlsn"] == "0/17025E8"

    upd = out[1]
    assert upd["kind"] == "update"  # normalized from "UPDATE"
    assert [c["value"] for c in upd["old_values"]] == ["1"]
    assert [c["type"] for c in upd["old_values"]] == ["integer"]


def test_audit_decode_keeps_nested_json_as_raw_string(spark):
    # notify_listener.go:192-198: nested objects stay unparsed JSON text
    new_vals = json.dumps({"id": 7, "profile": {"a": [1, 2]}, "note": "hi"})
    df = spark.createDataFrame(
        [(10, None, "INSERT", "public", "users", 1234, new_vals, None)],
        "id LONG, ts TIMESTAMP, action STRING, schema_name STRING, table_name STRING, relid LONG, new_values STRING, old_values STRING",
    )
    row = decode_audit_values(df).collect()[0]
    assert row["kind"] == "insert"
    assert row["new_values"]["id"] == "7"
    assert json.loads(row["new_values"]["profile"]) == {"a": [1, 2]}  # raw JSON survives
    assert row["old_values"] is None


# --- Debezium envelope (S1 via Kafka+Debezium) ------------------------

DBZ_INSERT = (
    '{"before": null, "after": {"id": "7", "name": "alice", '
    '"tags": "{\\"a\\":1}"}, '
    '"source": {"db": "postgres", "schema": "public", "table": "users", '
    '"lsn": 24023128, "txId": 555}, "op": "c", "ts_ms": 1486500577691}'
)
DBZ_UPDATE = (
    '{"before": {"id": "7"}, "after": {"id": "7", "name": "bob"}, '
    '"source": {"db": "postgres", "schema": "public", "table": "users", '
    '"lsn": 24023256, "txId": 556}, "op": "u", "ts_ms": 1486500577800}'
)
DBZ_DELETE = (
    '{"before": {"id": "7"}, "after": null, '
    '"source": {"db": "postgres", "schema": "public", "table": "users", '
    '"lsn": 24023384, "txId": 557}, "op": "d", "ts_ms": 1486500577900}'
)
DBZ_SNAPSHOT = (
    '{"before": null, "after": {"id": "1", "name": "eve"}, '
    '"source": {"db": "postgres", "schema": "public", "table": "users", '
    '"lsn": 24023000, "txId": 550}, "op": "r", "ts_ms": 1486500577000}'
)
DBZ_UNKNOWN_OP = (
    '{"before": null, "after": null, '
    '"source": {"db": "postgres", "schema": "public", "table": "users", '
    '"lsn": 24023500, "txId": 558}, "op": "m", "ts_ms": 1486500578000}'
)


def test_debezium_decode_all_ops(spark):
    from warp_pipe_spark.decoders import decode_debezium

    df = spark.createDataFrame(
        [(DBZ_INSERT,), (DBZ_UPDATE,), (DBZ_DELETE,), (DBZ_SNAPSHOT,), (DBZ_UNKNOWN_OP,)],
        "value STRING",
    )
    rows = {r["id"]: r for r in decode_debezium(df, "value").collect()}
    ins = rows[24023128]
    assert ins["kind"] == "insert" and ins["table"] == "users"
    assert ins["new_values"]["name"] == "alice"
    assert ins["old_values"] is None
    # nested JSON survives as its raw text (P5 passthrough invariant)
    assert ins["new_values"]["tags"] == '{"a":1}'
    assert ins["timestamp"].year == 2017

    upd = rows[24023256]
    assert upd["kind"] == "update"
    assert upd["old_values"] == {"id": "7"} and upd["new_values"]["name"] == "bob"

    dele = rows[24023384]
    assert dele["kind"] == "delete"
    assert dele["new_values"] is None and dele["old_values"] == {"id": "7"}

    assert rows[24023000]["kind"] == "insert"  # snapshot read = insert
    assert rows[24023500]["kind"] == ""  # unknown op → lenient empty


def test_debezium_stream_decodes_drop_dir(spark, tmp_path):
    from warp_pipe_spark.streaming import debezium_stream

    drop = tmp_path / "topic"
    drop.mkdir()
    (drop / "part-0.jsonl").write_text(
        DBZ_INSERT + "\n" + DBZ_UPDATE + "\n" + DBZ_DELETE + "\n"
    )
    out = debezium_stream(spark, str(drop))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("dbz_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["id"], r["kind"]) for r in spark.sql("SELECT * FROM dbz_out").collect()
    }
    assert got == {
        (24023128, "insert"),
        (24023256, "update"),
        (24023384, "delete"),
    }



def test_debezium_stream_bounds_micro_batches(spark, tmp_path):
    """max_files_per_trigger splits an availableNow backlog into one
    micro-batch per file, so a sink that collects each batch to the
    driver never sees the whole backlog at once."""
    from warp_pipe_spark.streaming import debezium_stream

    drop = tmp_path / "topic"
    drop.mkdir()
    for i, msg in enumerate((DBZ_INSERT, DBZ_UPDATE, DBZ_DELETE)):
        (drop / f"part-{i}.jsonl").write_text(msg + "\n")
    q = (
        debezium_stream(spark, str(drop), max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("dbz_bounded")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [1, 1, 1]
    assert spark.sql("SELECT * FROM dbz_bounded").count() == 3

def test_wal2json_undecodable_complement(spark):
    """Corrupt CDC input must be routable to a dead letter, not a
    silent gap: decode emits nothing for an unparseable document, and
    wal2json_undecodable returns exactly those raw rows."""
    from warp_pipe_spark.decoders import decode_wal2json, wal2json_undecodable

    good = (
        '{"change":[{"id":1,"kind":"insert","schema":"public","table":"t",'
        '"columnnames":["pk"],"columntypes":["bigint"],"columnvalues":["1"],'
        '"oldkeys":null}],"nextlsn":"0/1"}'
    )
    rows = [(1, good), (2, '{"change": [truncated'), (3, '{"foo": 42}')]
    df = spark.createDataFrame(rows, "line LONG, message STRING")
    assert decode_wal2json(df, "message").count() == 1
    bad = {r["line"] for r in wal2json_undecodable(df, "message").collect()}
    assert bad == {2, 3}


# -- wal2json format-version 2 (public plugin option; the reference is
# v1-locked, db/wal2json.go:4-26) ------------------------------------------

V2_LINES = [
    '{"action":"B","xid":900}',
    '{"action":"I","schema":"public","table":"accounts","lsn":"0/16B2D00",'
    '"columns":[{"name":"id","type":"integer","value":1},'
    '{"name":"val","type":"text","value":"a"}]}',
    '{"action":"U","schema":"public","table":"accounts","lsn":"0/16B2D80",'
    '"columns":[{"name":"id","type":"integer","value":1},'
    '{"name":"val","type":"text","value":"a2"}],'
    '"identity":[{"name":"id","type":"integer","value":1}]}',
    '{"action":"D","schema":"public","table":"accounts","lsn":"0/16B2E00",'
    '"identity":[{"name":"id","type":"integer","value":1}]}',
    '{"action":"T","schema":"public","table":"accounts","lsn":"0/16B2E80"}',
    '{"action":"C"}',
]


def test_wal2json_v2_decodes_to_the_normalized_shape(spark):
    from warp_pipe_spark.decoders import decode_wal2json_v2

    df = spark.createDataFrame([(ln,) for ln in V2_LINES], "message STRING")
    out = decode_wal2json_v2(df).orderBy("id").collect()
    # B/C framing rows filtered; I/U/D/T mapped
    assert [r["kind"] for r in out] == ["insert", "update", "delete", "truncate"]
    ins, upd, dele, trunc = out
    # unquoted JSON numbers arrive as their literal text (fidelity rule)
    assert [(c["column"], c["value"], c["type"]) for c in ins["new_values"]] == [
        ("id", "1", "integer"),
        ("val", "a", "text"),
    ]
    assert [c["value"] for c in upd["old_values"]] == ["1"]
    assert dele["new_values"] is None or list(dele["new_values"]) == []
    assert [c["value"] for c in dele["old_values"]] == ["1"]
    # include-lsn WAL positions become monotone replay ids
    ids = [r["id"] for r in out]
    assert ids == sorted(ids) and len(set(ids)) == 4
    assert ins["id"] == 0x16B2D00


def test_wal2json_v2_replays_through_the_standard_fold(spark):
    """Format-agnostic downstream: v2-decoded changes feed the same
    LWW replay as v1 — update wins, delete clears."""
    from pyspark.sql import functions as F

    from warp_pipe_spark.apply import replay
    from warp_pipe_spark.changeset import column_value
    from warp_pipe_spark.decoders import decode_wal2json_v2

    lines = [
        V2_LINES[1],  # insert id=1 val=a
        V2_LINES[2],  # update id=1 val=a2
        '{"action":"I","schema":"public","table":"accounts","lsn":"0/16B2F00",'
        '"columns":[{"name":"id","type":"integer","value":2},'
        '{"name":"val","type":"text","value":"b"}]}',
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "message STRING")
    typed = decode_wal2json_v2(df).select(
        "id",
        F.col("kind").alias("action"),
        F.col("table").alias("table_name"),
        column_value("new_values", "id").cast("long").alias("pk"),
        column_value("new_values", "val").alias("val"),
    )
    got = {
        (r["pk"], r["val"])
        for r in replay(typed, ["pk"]).collect()
    }
    assert got == {(1, "a2"), (2, "b")}


def test_outbox_messages_roundtrip_real_bytes(spark):
    """kind='message' changes extract to (id, prefix, content BINARY):
    the bytea-hex text round-trips to the exact producer bytes, and the
    prefix filter narrows to one outbox topic."""
    import json as _json

    from test_pgoutput import REL, feed_all, msg_begin, msg_commit, msg_message

    from warp_pipe_spark.decoders import decode_wal2json, outbox_messages
    from warp_pipe_spark.pgoutput import PgOutputAssembler

    payload = bytes(range(256))  # every byte value survives
    asm = PgOutputAssembler()
    feed_all(
        asm,
        [
            REL,
            msg_begin(),
            msg_message("orders", payload),
            msg_message("audit", b"other"),
            msg_commit(),
        ],
    )
    decoded = decode_wal2json(
        spark.createDataFrame(
            [(_json.dumps(d),) for d in asm.docs], "message STRING"
        )
    )
    rows = outbox_messages(decoded).orderBy("id").collect()
    assert [(r["prefix"], bytes(r["content"])) for r in rows] == [
        ("orders", payload),
        ("audit", b"other"),
    ]
    only = outbox_messages(decoded, prefix="orders").collect()
    assert len(only) == 1 and bytes(only[0]["content"]) == payload
