"""Wire-level tests for the logical-replication client: a fake
walsender speaking the public v3 + streaming-replication protocol
(startup, AuthenticationOk, simple-query walsender commands,
CopyBoth, XLogData/keepalive frames, standby status reads) drives
LRClient through the full slot lifecycle the reference exercises via
pglogrepl (lr_listener.go:92-185, 257-299)."""

from __future__ import annotations

import json
import os
import socket
import struct
import threading
import time

import pytest

from warp_pipe_spark.lr_client import (
    Keepalive,
    LRClient,
    ProtocolError,
    XLogData,
    lsn_int,
    lsn_str,
    tail_to_drop_dir,
)
from warp_pipe_spark.pgoutput import tail_pgoutput_to_drop_dir


def _msg(t: bytes, body: bytes) -> bytes:
    return t + struct.pack("!i", len(body) + 4) + body


class FakeWalsender:
    """One-connection fake Postgres in walsender mode."""

    def __init__(self, payloads: list[bytes], auth_code: int = 0,
                 keepalive_every: int = 2,
                 hang_silent_after_payloads: bool = False,
                 partial_frame_then_hang: bool = False):
        self.payloads = payloads
        self.auth_code = auth_code
        self.keepalive_every = keepalive_every
        # simulate an idle real server: after delivering the payloads,
        # send NOTHING (no CopyDone, no keepalives) — the scenario where
        # a max_messages-bounded drain waits forever for a message that
        # never comes. Client standby statuses are still absorbed.
        self.hang_silent_after_payloads = hang_silent_after_payloads
        # simulate a SLOW (not idle) server: after the payloads, send
        # the first bytes of a next frame and then stall mid-frame —
        # the wire has traffic, so an idle-exit would silently drop it.
        self.partial_frame_then_hang = partial_frame_then_hang
        self.standby_lsns: list[int] = []
        self.created_slots: list[str] = []
        self.dropped_slots: list[str] = []
        #: every START_REPLICATION command verbatim — tests assert the
        #: negotiated option list (proto_version, binary, ...)
        self.start_commands: list[str] = []
        self.startup_params: dict[str, str] = {}
        self.errors: list[BaseException] = []
        self.sock = socket.socket()
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.thread = threading.Thread(target=self._serve, daemon=True)
        self.thread.start()

    # -- low-level ------------------------------------------------------

    def _recv_exact(self, c, n):
        buf = b""
        while len(buf) < n:
            chunk = c.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("client closed")
            buf += chunk
        return buf

    def _read_client(self, c):
        t = self._recv_exact(c, 1)
        (ln,) = struct.unpack("!i", self._recv_exact(c, 4))
        return t, self._recv_exact(c, ln - 4)

    # -- protocol -------------------------------------------------------

    def _serve(self):
        try:
            c, _ = self.sock.accept()
            # startup message: int32 len, int32 protocol, k\0v\0...\0
            (ln,) = struct.unpack("!i", self._recv_exact(c, 4))
            body = self._recv_exact(c, ln - 4)
            assert struct.unpack("!i", body[:4])[0] == 196608
            parts = body[4:].split(b"\x00")[:-2]
            self.startup_params = {
                parts[i].decode(): parts[i + 1].decode()
                for i in range(0, len(parts) - 1, 2)
            }
            c.sendall(_msg(b"R", struct.pack("!i", self.auth_code)))
            if self.auth_code != 0:
                return
            c.sendall(_msg(b"Z", b"I"))
            while True:
                t, body = self._read_client(c)
                if t == b"X":
                    return
                if t != b"Q":
                    continue
                sql = body.rstrip(b"\x00").decode()
                if sql == "IDENTIFY_SYSTEM":
                    self._send_rows(
                        c, [("6999999999", "1", "0/15D68C8", "testdb")]
                    )
                elif sql.startswith("CREATE_REPLICATION_SLOT"):
                    name = sql.split()[1]
                    if name in self.created_slots:
                        c.sendall(_msg(
                            b"E",
                            b"SERROR\x00C42710\x00Mreplication slot \""
                            + name.encode() + b"\" already exists\x00\x00",
                        ))
                        c.sendall(_msg(b"Z", b"I"))
                    else:
                        self.created_slots.append(name)
                        self._send_rows(c, [(name, "0/15D68C8", None, None)])
                elif sql.startswith("DROP_REPLICATION_SLOT"):
                    self.dropped_slots.append(sql.split()[1])
                    self._send_rows(c, [])
                elif sql.startswith("START_REPLICATION"):
                    self.start_commands.append(sql)
                    self._stream(c)
                    # keep serving: a synchronized client can run
                    # further walsender commands on this connection
                    # (drop_slot / identify_system after a drained
                    # stream) — exactly what goes wrong if the client
                    # leaves the post-CopyDone C/Z tail unread
        except BaseException as e:  # surfaced in the test thread
            self.errors.append(e)

    def _send_rows(self, c, rows):
        for r in rows:
            body = struct.pack("!h", len(r))
            for v in r:
                if v is None:
                    body += struct.pack("!i", -1)
                else:
                    b = str(v).encode()
                    body += struct.pack("!i", len(b)) + b
            c.sendall(_msg(b"D", body))
        c.sendall(_msg(b"C", b"SELECT\x00"))
        c.sendall(_msg(b"Z", b"I"))

    def _absorb(self, c):
        """Record the client's standby statuses, reply with silence."""
        try:
            while True:
                t, body = self._read_client(c)
                if t == b"d" and body[:1] == b"r":
                    self.standby_lsns.append(struct.unpack("!q", body[9:17])[0])
        except ConnectionError:
            return

    def _stream(self, c):
        c.sendall(_msg(b"W", struct.pack("!bh", 0, 0)))  # CopyBothResponse
        lsn = 0x15D68C8
        for i, p in enumerate(self.payloads):
            start, lsn = lsn, lsn + len(p)
            # second int64 is ServerWALEnd — the server's CURRENT WAL
            # head, deliberately far AHEAD of the delivered message, as
            # on a busy real server. A client that confirms it (instead
            # of start+len(payload)) over-advances the slot and loses
            # undelivered transactions on restart; the assertion below
            # catches exactly that.
            server_head = lsn + 0x100000
            c.sendall(
                _msg(b"d", b"w" + struct.pack("!qqq", start, server_head, 0) + p)
            )
            if (i + 1) % self.keepalive_every == 0:
                # reply-requested keepalive → client must answer 'r'
                c.sendall(_msg(b"d", b"k" + struct.pack("!qqB", lsn, 0, 1)))
                t, body = self._read_client(c)
                assert t == b"d" and body[:1] == b"r", (t, body[:1])
                written, flushed, applied, _ts, _rep = struct.unpack(
                    "!qqqqB", body[1:34]
                )
                assert written == flushed == applied
                self.standby_lsns.append(flushed)
        if self.partial_frame_then_hang:
            # type byte + 2 of the 4 length bytes: a frame has STARTED
            self.max_delivered_lsn = lsn
            c.sendall(b"d" + struct.pack("!i", 64)[:2])
            return self._absorb(c)
        if self.hang_silent_after_payloads:
            self.max_delivered_lsn = lsn
            return self._absorb(c)
        c.sendall(_msg(b"c", b""))  # CopyDone
        while True:  # drain queued unsolicited standby statuses
            t, body = self._read_client(c)
            if t == b"c":
                break
            assert t == b"d" and body[:1] == b"r", (t, body[:1])
            self.standby_lsns.append(struct.unpack("!q", body[9:17])[0])
        self.max_delivered_lsn = lsn
        # a real walsender ends CopyBoth with CommandComplete +
        # ReadyForQuery; the client must drain both or its next simple
        # query on this connection reads stale responses
        c.sendall(_msg(b"C", b"COPY 0\x00"))
        c.sendall(_msg(b"Z", b"I"))


WAL2JSON_DOCS = [
    json.dumps(
        {
            "change": [
                {
                    "id": i,
                    "kind": "insert",
                    "schema": "public",
                    "table": "users",
                    "columnnames": ["pk", "val"],
                    "columntypes": ["bigint", "text"],
                    "columnvalues": [str(i), f"v{i}"],
                    "oldkeys": None,
                }
            ],
            "nextlsn": f"0/{i:X}",
        }
    ).encode()
    for i in range(1, 8)
]


def test_lsn_roundtrip():
    for v in (0, 1, 0x15D68C8, (7 << 32) | 0xFFFFFFFF):
        assert lsn_int(lsn_str(v)) == v


def test_full_session_streams_and_confirms():
    srv = FakeWalsender(WAL2JSON_DOCS, keepalive_every=2)
    c = LRClient("127.0.0.1", srv.port, "testdb", "u", "wp_slot")
    c.connect()
    assert srv.startup_params.get("replication") == "database"
    ident = c.identify_system()
    assert ident["dbname"] == "testdb" and ident["xlogpos"] == "0/15D68C8"
    assert c.create_slot() == lsn_int("0/15D68C8")
    assert c.create_slot() is None  # already exists + if_not_exists
    got, kas = [], 0
    for msg in c.start(0):
        if isinstance(msg, XLogData):
            got.append(msg.payload)
            # the usage-contract rule: confirm the RECEIVED message's
            # end, never ServerWALEnd (msg.wal_end, which the fake
            # deliberately places far ahead)
            c.send_standby_status(msg.wal_start + len(msg.payload))
        elif isinstance(msg, Keepalive):
            kas += 1
    # the connection must still be SYNCHRONIZED after the stream ends:
    # without draining the post-CopyDone CommandComplete/ReadyForQuery
    # tail, this query would consume the stream's stale responses
    ident2 = c.identify_system()
    assert ident2["xlogpos"] == "0/15D68C8"
    c.drop_slot()
    assert srv.dropped_slots == ["wp_slot"]
    c.close()
    srv.thread.join(5)
    assert not srv.errors, srv.errors
    assert got == WAL2JSON_DOCS
    assert kas == len(WAL2JSON_DOCS) // 2
    # confirmed LSNs advance monotonically — the slot can be recycled
    # (the reference never advances; lr_listener.go:125-127)
    assert srv.standby_lsns == sorted(srv.standby_lsns)
    assert srv.standby_lsns[-1] > 0
    # and NEVER past what was actually delivered: confirming
    # ServerWALEnd would advance the slot over undelivered
    # transactions (permanent loss on restart)
    assert max(srv.standby_lsns) <= srv.max_delivered_lsn


def test_auth_other_than_trust_is_refused():
    srv = FakeWalsender([], auth_code=10)  # SASL
    c = LRClient("127.0.0.1", srv.port, "testdb", "u", "s")
    with pytest.raises(ProtocolError, match="auth method 10"):
        c.connect()


def test_drop_slot_round_trips():
    srv = FakeWalsender([])
    c = LRClient("127.0.0.1", srv.port, "testdb", "u", "wp_slot")
    c.connect()
    c.create_slot()
    c.drop_slot()
    c.close()
    srv.thread.join(5)
    assert srv.dropped_slots == ["wp_slot"]


def test_tail_to_drop_dir_feeds_wal2json_stream(spark, tmp_path):
    """End-to-end S1: socket frames → JSONL drop files (atomic rename,
    LSN-confirmed after rename) → wal2json_stream decode → rows match
    the documents that crossed the wire."""
    from warp_pipe_spark.streaming import wal2json_stream

    srv = FakeWalsender(WAL2JSON_DOCS, keepalive_every=3)
    c = LRClient("127.0.0.1", srv.port, "testdb", "u", "wp_slot")
    c.connect()
    c.create_slot()
    drop = str(tmp_path / "drop")
    n = tail_to_drop_dir(c, drop, batch_rows=3)
    c.close()
    srv.thread.join(5)
    assert not srv.errors, srv.errors
    assert n == len(WAL2JSON_DOCS)
    # every batch confirmation landed after its file rename
    assert srv.standby_lsns and srv.standby_lsns == sorted(srv.standby_lsns)
    # confirmations are bounded by DELIVERED wal, not the server head
    assert max(srv.standby_lsns) <= srv.max_delivered_lsn

    out = (
        wal2json_stream(spark, drop)
        .writeStream.format("memory")
        .queryName("lr_decoded")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(120)
    rows = spark.sql(
        "SELECT id, kind, `table`, new_values[0].value AS pk FROM lr_decoded"
    ).collect()
    assert {(r["id"], r["kind"], r["table"], r["pk"]) for r in rows} == {
        (i, "insert", "users", str(i)) for i in range(1, 8)
    }


def _pgoutput_payloads(n=3):
    from test_pgoutput import REL, msg_begin, msg_commit, msg_insert

    payloads = [REL]
    for i in range(1, n + 1):
        payloads += [
            msg_begin(lsn=i << 12),
            msg_insert(5001, str(i), f"v{i}"),
            msg_commit(end_lsn=(i << 12) + 100),
        ]
    return payloads


#: both drop-dir tails, each with the frames that carry the same three
#: rows and the decoding of one written line to what the test compares
TAILS = {
    "wal2json": (
        lambda: WAL2JSON_DOCS[:3],
        lambda c, drop, batch_rows: tail_to_drop_dir(
            c, drop, batch_rows=batch_rows, max_messages=10,
            idle_timeout_s=0.5,
        ),
        lambda line: line,
        WAL2JSON_DOCS[:3],
    ),
    "pgoutput": (
        _pgoutput_payloads,
        lambda c, drop, batch_rows: tail_pgoutput_to_drop_dir(
            c, drop, publication="pub", max_changes=10, idle_timeout_s=0.5
        ),
        lambda line: json.loads(line)["change"][0]["columnvalues"],
        [[str(i), f"v{i}"] for i in range(1, 4)],
    ),
}


def _drop_lines(drop, decode):
    lines = []
    for fn in sorted(os.listdir(drop)):
        with open(os.path.join(drop, fn), "rb") as f:
            lines += [decode(ln) for ln in f.read().splitlines()]
    return lines


@pytest.mark.parametrize("plugin", sorted(TAILS))
def test_tail_idle_timeout_terminates_bounded_drain(tmp_path, plugin):
    """ADVICE r7: max_messages only bounds the drain from above — a
    server that delivers fewer documents and then goes silent (one
    implicit transaction for a whole multi-statement simple query is
    the live-PG shape) left the tail blocked forever on a socket with
    no timeout. idle_timeout_s is the lower-bound exit: the drain
    returns once the wire is silent, with every delivered payload on
    disk and its LSN confirmed. Both tails share the rule."""
    payloads, tail, decode, expected = TAILS[plugin]
    srv = FakeWalsender(
        payloads(), keepalive_every=100,
        hang_silent_after_payloads=True,
    )
    c = LRClient("127.0.0.1", srv.port, "testdb", "u", "wp_slot",
                 plugin=plugin, status_interval_s=999.0)
    c.connect()
    c.create_slot()
    drop = str(tmp_path / "drop")
    t0 = time.monotonic()
    n = tail(c, drop, 2)
    elapsed = time.monotonic() - t0
    assert n == 3, n  # all delivered rows consumed, then idle-exit
    assert elapsed < 5.0, elapsed
    # this server sends no keepalive either, so the wal2json tail's
    # final PARTIAL batch (1 of 2 rows) was flushed by the timeout
    # path, not lost waiting for batch_rows
    assert _drop_lines(drop, decode) == expected
    assert c.flushed_lsn == srv.max_delivered_lsn
    c.close()
    srv.thread.join(5)
    assert srv.standby_lsns[-1] == srv.max_delivered_lsn


def test_wal2json_trickle_lands_at_a_keepalive(tmp_path):
    """A trickle source never fills a batch: three documents under
    batch_rows=1000, then the keepalive a walsender sends once it has
    caught up. The tail writes the three and confirms their end LSN at
    that keepalive, while it is still running, not at its idle exit."""
    srv = FakeWalsender(
        WAL2JSON_DOCS[:3], keepalive_every=3, hang_silent_after_payloads=True
    )
    c = LRClient("127.0.0.1", srv.port, "testdb", "u", "wp_slot",
                 status_interval_s=999.0)
    c.connect()
    c.create_slot()
    drop = str(tmp_path / "drop")
    tail = threading.Thread(
        target=tail_to_drop_dir, args=(c, drop),
        kwargs={"batch_rows": 1000, "idle_timeout_s": 3.0},
    )
    tail.start()
    deadline = time.monotonic() + 2.0
    while time.monotonic() < deadline and (
        getattr(srv, "max_delivered_lsn", None) not in srv.standby_lsns
    ):
        time.sleep(0.02)
    confirmed_while_running = tail.is_alive()
    assert srv.standby_lsns[-1:] == [srv.max_delivered_lsn]
    assert confirmed_while_running
    assert _drop_lines(drop, lambda line: line) == WAL2JSON_DOCS[:3]
    tail.join(10)
    assert not tail.is_alive()
    c.close()
    srv.thread.join(5)


@pytest.mark.parametrize("plugin", sorted(TAILS))
def test_tail_partial_frame_timeout_raises_not_idle(tmp_path, plugin):
    """ADVICE r8: "silent for N seconds" must mean NO byte of a next
    frame — a server that starts a frame and then stalls mid-frame is
    slow, not idle, and the stalled frame's bytes are unrecoverable.
    The idle-exit path must NOT swallow that timeout (it would report a
    clean drain having silently dropped a frame); it raises, and the
    already-delivered payloads still reach disk via the
    unconfirmed-flush path in the finally block. Both tails share the
    rule."""
    payloads, tail, decode, expected = TAILS[plugin]
    srv = FakeWalsender(
        payloads(), keepalive_every=100,
        partial_frame_then_hang=True,
    )
    c = LRClient("127.0.0.1", srv.port, "testdb", "u", "wp_slot",
                 plugin=plugin, status_interval_s=999.0)
    c.connect()
    c.create_slot()
    drop = str(tmp_path / "drop")
    with pytest.raises(TimeoutError):
        tail(c, drop, 100)
    # the mid-frame state is visible on the connection object
    assert c._conn.frame_bytes > 0
    # batch_rows=100 means the wal2json tail flushed nothing during the
    # stream — the finally-path flush preserved all delivered rows
    assert _drop_lines(drop, decode) == expected
    c.close()
    srv.thread.join(5)


@pytest.mark.parametrize("plugin", sorted(TAILS))
def test_back_to_back_drop_files_get_increasing_millisecond_mtimes(
    tmp_path, plugin
):
    """Spark's file source orders a drop-dir backlog by modification
    time alone, at millisecond resolution: files published within one
    millisecond tie and come in listing order, not commit order (a
    `maxFilesPerTrigger=1` stream then reads a later commit as an
    earlier micro-batch). Twenty back-to-back commits must get strictly
    increasing millisecond mtimes in `lr_<lsn>_<seq>` order."""
    n = 20
    if plugin == "wal2json":
        payloads = [WAL2JSON_DOCS[0]] * n
        tail = lambda c, drop: tail_to_drop_dir(  # noqa: E731
            c, drop, batch_rows=1, idle_timeout_s=0.5
        )
    else:
        payloads = _pgoutput_payloads(n)
        tail = lambda c, drop: tail_pgoutput_to_drop_dir(  # noqa: E731
            c, drop, publication="pub", idle_timeout_s=0.5
        )
    srv = FakeWalsender(
        payloads, keepalive_every=100, hang_silent_after_payloads=True
    )
    c = LRClient("127.0.0.1", srv.port, "testdb", "u", "wp_slot",
                 plugin=plugin, status_interval_s=999.0)
    c.connect()
    c.create_slot()
    drop = str(tmp_path / "drop")
    tail(c, drop)
    c.close()
    srv.thread.join(5)

    def commit_order(name):
        lsn, seq = name[len("lr_"):-len(".jsonl")].split("_")
        return int(lsn, 16), int(seq)

    names = sorted(os.listdir(drop), key=commit_order)
    assert len(names) == n, names
    ms = [os.stat(os.path.join(drop, f)).st_mtime_ns // 10**6 for f in names]
    assert all(a < b for a, b in zip(ms, ms[1:])), ms


# -- LISTEN/NOTIFY (S2 push mode, notify_listener.go:76-139) --------------


def test_wait_for_notification_parses_the_a_frame():
    """NotificationResponse 'A': pid(4) channel(cstr) payload(cstr) —
    parsed off a raw socketpair, no server needed."""
    import socket as _socket
    import struct as _struct

    from warp_pipe_spark.lr_client import LRClient, _Conn

    a, b = _socket.socketpair()
    try:
        c = LRClient("x", 0, "db", "u", "slot")
        c._conn = _Conn(b)
        body = (
            _struct.pack("!i", 4242)
            + b"warp_pipe_new_changeset\x00"
            + b"17_2026-08-15 12:00:00+00\x00"
        )
        a.sendall(b"A" + _struct.pack("!i", len(body) + 4) + body)
        note = c.wait_for_notification(timeout_s=5.0)
        assert note.pid == 4242
        assert note.channel == "warp_pipe_new_changeset"
        assert note.payload == "17_2026-08-15 12:00:00+00"
    finally:
        a.close()
        b.close()


def test_parse_notify_payload_reference_format():
    from warp_pipe_spark.streaming import parse_notify_payload

    cid, ts = parse_notify_payload("17_2026-08-15 12:00:00.123+00")
    assert cid == 17 and ts == "2026-08-15 12:00:00.123+00"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_notify_payload("not-an-id_whatever")


def test_notify_driven_drain_wakes_poller_per_notification(spark, tmp_path):
    """Each NOTIFY wakes the poller, which drains the backlog; the
    drained offset must reach the notified id (commit-then-notify
    ordering makes anything less a store/log disagreement)."""
    from pyspark.sql import Row

    from warp_pipe_spark.lr_client import Notification
    from warp_pipe_spark.streaming import (
        KeysetPoller,
        ParquetStateSink,
        dataframe_keyset_fetch,
        notify_driven_drain,
    )

    rows = [
        Row(id=1, action="INSERT", table_name="t", pk=1, val="a"),
        Row(id=2, action="INSERT", table_name="t", pk=2, val="b"),
        Row(id=3, action="UPDATE", table_name="t", pk=1, val="a2"),
    ]
    df = spark.createDataFrame(rows)

    class FakeListener:
        def __init__(self):
            self.notes = [
                Notification(1, "warp_pipe_new_changeset", "2_ts"),
                Notification(1, "warp_pipe_new_changeset", "3_ts"),
            ]
            self.listened = None

        def listen(self, channel):
            self.listened = channel

        def wait_for_notification(self, timeout_s=None):
            return self.notes.pop(0)

    sink = ParquetStateSink(spark, str(tmp_path / "state"), pk_cols=["pk"])
    poller = KeysetPoller(
        spark, dataframe_keyset_fetch(df), sink,
        str(tmp_path / "off.json"), limit=10,
    )
    lst = FakeListener()
    n = notify_driven_drain(lst, poller, max_notifications=2)
    assert lst.listened == "warp_pipe_new_changeset"
    # first wake-up drains EVERYTHING visible (batch catch-up), the
    # second finds nothing new — total applied counts each row once
    assert n == 3
    got = {
        (r["pk"], r["val"])
        for r in sink.read_state().select("pk", "val").collect()
    }
    assert got == {(1, "a2"), (2, "b")}


def test_notification_arriving_mid_query_is_buffered_not_dropped():
    """Protocol: 'A' frames may arrive interleaved with any response.
    One landing during a simple query's round-trip (e.g. during the
    LISTEN itself — found live) must be queued for the next
    wait_for_notification, never silently dropped."""
    import socket as _socket
    import struct as _struct

    from warp_pipe_spark.lr_client import LRClient, _Conn

    def frame(t: bytes, body: bytes) -> bytes:
        return t + _struct.pack("!i", len(body) + 4) + body

    a, b = _socket.socketpair()
    try:
        c = LRClient("x", 0, "db", "u", "slot")
        c._conn = _Conn(b)
        # response to the upcoming simple query, with an 'A' frame
        # interleaved before ReadyForQuery
        note_body = _struct.pack("!i", 7) + b"ch\x00" + b"42_ts\x00"
        a.sendall(
            frame(b"A", note_body)
            + frame(b"C", b"LISTEN\x00")
            + frame(b"Z", b"I")
        )
        assert c._simple_query("LISTEN ch") == []
        note = c.wait_for_notification(timeout_s=1.0)  # no socket read
        assert (note.pid, note.channel, note.payload) == (7, "ch", "42_ts")
    finally:
        a.close()
        b.close()
