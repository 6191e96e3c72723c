"""S1 live tail: a from-scratch PostgreSQL logical-replication client.

The reference's LR mode (lr_listener.go:92-185) drives pglogrepl:
create a logical slot, START_REPLICATION with the wal2json plugin,
consume XLogData frames, answer keepalives with standby status
updates. This module speaks the same public wire protocol —
PostgreSQL frontend/backend protocol v3 (startup + simple query) and
the streaming-replication sub-protocol inside CopyBoth mode
(XLogData 'w', keepalive 'k', standby status 'r') — using only the
stdlib socket module, so the slot lifecycle the sandbox could never
exercise against a live server (lr_listener.go:257-299) is now real
code with a wire-level fake server driving it in tests
(tests/test_lr_client.py), the same prove-the-protocol approach as
the RFC 6455 websocket sink.

Improvement over the reference, by construction: lr_listener.go never
advances the slot's confirmed LSN (its standby status always reports
the start position, so every restart replays the whole slot).
`LRClient.send_standby_status` reports the caller's flushed LSN, and
both drop-dir tails — `tail_to_drop_dir` (wal2json) and
`pgoutput.tail_pgoutput_to_drop_dir` — run one loop,
`_tail_drop_dir`, that confirms only after the batch file is durably
published (`io.publish_file`) — restart replays AT MOST the
unconfirmed tail, which the downstream watermarked dedup / LWW merge
absorbs (streaming.py).

Auth scope: `trust` (AuthenticationOk) only — the sandbox has no
server at all; SCRAM would be dead code a test can't reach.

Data path: frames land as JSONL files in a drop dir consumed by
`streaming.wal2json_stream` (each file ≈ one micro-batch), or
directly via the generator for embedding in a KeysetPoller-style
loop. Decode stays in Catalyst either way.
"""

from __future__ import annotations

import os
import socket
import struct
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from warp_pipe_spark.io import publish_file

# epoch difference: Postgres timestamps count microseconds from
# 2000-01-01, Unix from 1970-01-01
_PG_EPOCH_OFFSET_US = 946_684_800 * 1_000_000


def _pg_now_us() -> int:
    return int(time.time() * 1_000_000) - _PG_EPOCH_OFFSET_US


def lsn_str(lsn: int) -> str:
    """int → the XXX/XXX textual form Postgres uses (e.g. '0/15D68C8')."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def lsn_int(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


@dataclass
class XLogData:
    wal_start: int
    wal_end: int
    server_ts_us: int
    payload: bytes


@dataclass
class Keepalive:
    wal_end: int
    server_ts_us: int
    reply_requested: bool


@dataclass
class Notification:
    """One LISTEN/NOTIFY delivery (protocol NotificationResponse 'A'):
    the notifying backend's pid, the channel, and the payload — for the
    reference's audit trigger, '<changeset_id>_<timestamp>'
    (db/sql.go:70)."""

    pid: int
    channel: str
    payload: str


class ProtocolError(RuntimeError):
    pass


class _Conn:
    """Minimal v3-protocol framing: every backend message after startup
    is (type byte, int32 length-including-itself, body)."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        #: bytes of the CURRENT in-flight message received so far; 0
        #: between complete messages. Lets an idle-timeout consumer
        #: distinguish "no next frame has started" (genuinely idle)
        #: from "a frame is half-received" (slow wire, NOT idle — the
        #: partial bytes are unrecoverable, so exiting 'cleanly' there
        #: would silently drop a frame).
        self.frame_bytes = 0

    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            try:
                chunk = self.sock.recv(n - len(buf))
            except TimeoutError:
                self.frame_bytes += len(buf)
                raise
            if not chunk:
                raise ProtocolError("connection closed mid-message")
            buf += chunk
        self.frame_bytes += n
        return buf

    def read_message(self) -> tuple[bytes, bytes]:
        self.frame_bytes = 0
        t = self._recv_exact(1)
        (ln,) = struct.unpack("!i", self._recv_exact(4))
        body = self._recv_exact(ln - 4)
        self.frame_bytes = 0
        return t, body

    @contextmanager
    def timeout(self, seconds: float | None) -> Iterator[None]:
        """Socket timeout `seconds` for the block (None: leave it),
        restored after; the restore ignores a socket closed meanwhile."""
        prev = self.sock.gettimeout()
        if seconds is not None:
            self.sock.settimeout(seconds)
        try:
            yield
        finally:
            if seconds is not None:
                try:
                    self.sock.settimeout(prev)
                except OSError:
                    pass

    def send(self, type_byte: bytes, body: bytes) -> None:
        self.sock.sendall(type_byte + struct.pack("!i", len(body) + 4) + body)

    def send_startup(self, params: dict[str, str]) -> None:
        body = struct.pack("!i", 196608)  # protocol 3.0
        for k, v in params.items():
            body += k.encode() + b"\x00" + v.encode() + b"\x00"
        body += b"\x00"
        self.sock.sendall(struct.pack("!i", len(body) + 4) + body)


class LRClient:
    """Logical-replication session against one database.

    Usage:
        c = LRClient(host, port, dbname="db", user="u", slot="wp_slot")
        c.connect()
        c.create_slot()                  # once; no-op if exists
        for msg in c.start(start_lsn=0):
            ...consume XLogData.payload (wal2json documents)...
            c.send_standby_status(flush_lsn=msg.wal_start + len(msg.payload))
            # (never msg.wal_end: that is ServerWALEnd — confirming it
            # skips undelivered transactions after a restart)
    """

    def __init__(
        self,
        host: str,
        port: int,
        dbname: str,
        user: str,
        slot: str,
        plugin: str = "wal2json",
        status_interval_s: float = 10.0,
    ):
        self.host = host
        self.port = port
        self.dbname = dbname
        self.user = user
        self.slot = slot
        self.plugin = plugin
        self.status_interval_s = status_interval_s
        self._conn: _Conn | None = None
        self._last_status = 0.0
        self.flushed_lsn = 0
        #: NotificationResponse frames that arrived while some OTHER
        #: reader (a simple query) owned the wire — the protocol allows
        #: 'A' frames "at almost any time", so dropping them there
        #: loses notifications forever (found live: a NOTIFY landing
        #: during the LISTEN round-trip itself)
        self._notifications: list[Notification] = []

    # -- session ---------------------------------------------------------

    def connect(self, replication: bool = True) -> None:
        sock = socket.create_connection((self.host, self.port))
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._conn = _Conn(sock)
        # replication=database switches the backend into walsender mode
        # with logical decoding available (public protocol contract).
        # replication=False opens a PLAIN backend — the shape a
        # LISTEN/NOTIFY wake-up connection needs (S2 push mode,
        # notify_listener.go:64-74 dials an ordinary pgx conn)
        params = {"user": self.user, "database": self.dbname}
        if replication:
            params["replication"] = "database"
        self._conn.send_startup(params)
        while True:
            t, body = self._conn.read_message()
            if t == b"R":
                (code,) = struct.unpack("!i", body[:4])
                if code != 0:
                    raise ProtocolError(
                        f"server requested auth method {code}; only trust "
                        "(AuthenticationOk) is supported"
                    )
            elif t == b"Z":  # ReadyForQuery
                return
            elif t == b"E":
                raise ProtocolError(f"startup error: {_error_text(body)}")
            # 'S' ParameterStatus / 'K' BackendKeyData: informational

    def close(self) -> None:
        if self._conn:
            try:
                self._conn.send(b"X", b"")  # Terminate
                self._conn.sock.close()
            except OSError:
                pass
            self._conn = None

    # -- simple queries (IDENTIFY_SYSTEM, slot DDL) ----------------------

    def _simple_query(self, sql: str) -> list[tuple[str | None, ...]]:
        """Run one walsender command, return DataRow tuples (text mode)."""
        assert self._conn, "connect() first"
        self._conn.send(b"Q", sql.encode() + b"\x00")
        rows: list[tuple[str | None, ...]] = []
        err: str | None = None
        while True:
            t, body = self._conn.read_message()
            if t == b"D":
                (nf,) = struct.unpack("!h", body[:2])
                off, vals = 2, []
                for _ in range(nf):
                    (fl,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if fl == -1:
                        vals.append(None)
                    else:
                        vals.append(body[off : off + fl].decode())
                        off += fl
                rows.append(tuple(vals))
            elif t == b"E":
                err = _error_text(body)
            elif t == b"A":
                # a notification interleaved with this query's response
                # (legal per protocol) — queue it for
                # wait_for_notification instead of silently dropping it
                self._notifications.append(_parse_notification(body))
            elif t == b"Z":
                if err is not None:
                    raise ProtocolError(err)
                return rows
            # 'T' RowDescription / 'C' CommandComplete: shape metadata

    # -- LISTEN/NOTIFY (S2 push mode, notify_listener.go:76-139) ----------

    def listen(self, channel: str) -> None:
        """LISTEN on a channel (the reference listens on
        'warp_pipe_new_changeset', notify_listener.go:78). Use a
        DEDICATED connection (connect(replication=False)): an 'A'
        frame arriving mid-_simple_query on a shared one would be
        discarded by that reader."""
        self._simple_query(f'LISTEN "{channel}"')

    def wait_for_notification(
        self, timeout_s: float | None = None
    ) -> Notification:
        """Block until a NotificationResponse arrives on this
        connection (pgx WaitForNotification parity,
        notify_listener.go:131-139). Postgres delivers notifications to
        an idle backend as standalone 'A' frames; anything else
        unexpected here is an error frame or protocol noise we skip.
        Raises TimeoutError via the socket when `timeout_s` elapses."""
        assert self._conn, "connect() first"
        if self._notifications:
            # delivered during an earlier simple query's round-trip
            return self._notifications.pop(0)
        with self._conn.timeout(timeout_s):
            while True:
                t, body = self._conn.read_message()
                if t == b"A":
                    return _parse_notification(body)
                if t == b"E":
                    raise ProtocolError(_error_text(body))
                # 'S' ParameterStatus / keepalive noise: skip

    def identify_system(self) -> dict[str, str | None]:
        rows = self._simple_query("IDENTIFY_SYSTEM")
        if not rows:
            raise ProtocolError("IDENTIFY_SYSTEM returned no rows")
        sysid, tli, xlogpos, dbname = rows[0][:4]
        return {"systemid": sysid, "timeline": tli, "xlogpos": xlogpos, "dbname": dbname}

    def create_slot(
        self, if_not_exists: bool = True, two_phase: bool = False
    ) -> int | None:
        """CREATE_REPLICATION_SLOT ... LOGICAL <plugin>; returns the
        slot's consistent-point LSN (None if it already existed and
        if_not_exists). two_phase=True (PG 15+ walsender grammar)
        enables decoding of prepared transactions on the slot — the
        prerequisite for pgoutput protocol v3 (pgoutput.py)."""
        opts = " (TWO_PHASE)" if two_phase else ""
        try:
            rows = self._simple_query(
                f"CREATE_REPLICATION_SLOT {self.slot} LOGICAL "
                f"{self.plugin}{opts}"
            )
        except ProtocolError as e:
            if if_not_exists and "already exists" in str(e):
                return None
            raise
        return lsn_int(rows[0][1]) if rows and rows[0][1] else None

    def create_slot_with_snapshot(self) -> tuple[int, str]:
        """CREATE_REPLICATION_SLOT ... LOGICAL <plugin> EXPORT_SNAPSHOT:
        returns (consistent_point LSN, exported snapshot name) — the
        two halves of a GAP-FREE CDC bootstrap. Every transaction
        committed BEFORE the consistent point is visible to the
        exported snapshot, and every one committed AFTER it is
        delivered by the slot: a backfill read under the snapshot plus
        a tail from the consistent point covers each change exactly
        once (the guarantee pg_basebackup-style initial sync relies
        on; the reference's since-id backfill, store.go, cannot make
        it — rows committing between its SELECT and the tail's start
        are either doubled or lost depending on timing).

        VALIDITY WINDOW: the exported snapshot lives only while THIS
        walsender's transaction stays open — i.e. until the next
        command on this connection. Run the snapshot reads
        (snapshot_read) on OTHER connections first, and only then
        START_REPLICATION here. Never if_not_exists: an existing
        slot's snapshot is long gone, so reusing one would silently
        void the guarantee this method exists for."""
        rows = self._simple_query(
            f"CREATE_REPLICATION_SLOT {self.slot} LOGICAL "
            f"{self.plugin} EXPORT_SNAPSHOT"
        )
        if not rows or rows[0][1] is None or rows[0][2] is None:
            raise ProtocolError(
                f"CREATE_REPLICATION_SLOT returned no snapshot: {rows!r}"
            )
        return lsn_int(rows[0][1]), rows[0][2]

    def snapshot_read(
        self, snapshot_name: str, sql: str
    ) -> list[tuple[str | None, ...]]:
        """Run one SELECT under an EXPORTED snapshot (the public
        SET TRANSACTION SNAPSHOT mechanism): this connection sees
        exactly the database state at the exporting slot's consistent
        point, regardless of commits since. Use a PLAIN connection
        (connect(replication=False)); the exporter's transaction must
        still be open (see create_slot_with_snapshot)."""
        self._simple_query("BEGIN ISOLATION LEVEL REPEATABLE READ")
        try:
            self._simple_query(
                f"SET TRANSACTION SNAPSHOT '{snapshot_name}'"
            )
            return self._simple_query(sql)
        finally:
            self._simple_query("COMMIT")

    def drop_slot(self) -> None:
        self._simple_query(f"DROP_REPLICATION_SLOT {self.slot}")

    # -- replication stream ----------------------------------------------

    def start(self, start_lsn: int = 0, options: "dict[str, str] | None" = None):
        """START_REPLICATION: yields XLogData and Keepalive frames (a
        keepalive that requests a reply is already answered internally).
        Ends when the server sends CopyDone or closes.

        options: plugin output options, rendered as the parenthesized
        option list of the replication grammar —
        `(key 'value', ...)`. wal2json needs none; pgoutput REQUIRES
        proto_version and publication_names (see pgoutput.py). Values
        are single-quote-escaped ('' doubling, the replication
        parser's rule)."""
        assert self._conn, "connect() first"
        self.flushed_lsn = start_lsn
        cmd = f"START_REPLICATION SLOT {self.slot} LOGICAL {lsn_str(start_lsn)}"
        if options:
            opts = ", ".join(
                "{} '{}'".format(k, str(v).replace("'", "''"))
                for k, v in options.items()
            )
            cmd += f" ({opts})"
        self._conn.send(b"Q", cmd.encode() + b"\x00")
        t, body = self._conn.read_message()
        if t == b"E":
            raise ProtocolError(f"START_REPLICATION refused: {_error_text(body)}")
        if t != b"W":  # CopyBothResponse
            raise ProtocolError(f"expected CopyBothResponse, got {t!r}")
        while True:
            t, body = self._conn.read_message()
            if t == b"c":  # CopyDone — server-initiated clean end
                self._conn.send(b"c", b"")
                # a real walsender follows with CommandComplete ('C')
                # and ReadyForQuery ('Z'); leaving them buffered would
                # desynchronize the NEXT simple query on this
                # connection (drop_slot after a drained stream would
                # consume this stream's stale responses). Drain to 'Z';
                # a peer that just closes (abrupt exit) ends as cleanly.
                try:
                    while True:
                        t2, _ = self._conn.read_message()
                        if t2 == b"Z":
                            break
                except (ProtocolError, OSError):
                    pass
                return
            if t == b"E":
                raise ProtocolError(f"stream error: {_error_text(body)}")
            if t != b"d":  # only CopyData carries stream content
                continue
            kind, rest = body[:1], body[1:]
            if kind == b"w":
                ws, we, ts = struct.unpack("!qqq", rest[:24])
                msg = XLogData(ws, we, ts, rest[24:])
                yield msg
            elif kind == b"k":
                we, ts, reply = struct.unpack("!qqB", rest[:17])
                if reply:
                    self.send_standby_status(self.flushed_lsn)
                yield Keepalive(we, ts, bool(reply))
            self._maybe_send_status()

    def send_standby_status(self, flush_lsn: int, reply_requested: bool = False) -> None:
        """Standby status update ('r'): written/flushed/applied LSNs.
        Reporting the true flushed LSN is what lets the server advance
        (and eventually recycle) the slot — the at-most-unconfirmed-tail
        restart contract."""
        assert self._conn, "connect() first"
        self.flushed_lsn = max(self.flushed_lsn, flush_lsn)
        body = b"r" + struct.pack(
            "!qqqqB",
            self.flushed_lsn,
            self.flushed_lsn,
            self.flushed_lsn,
            _pg_now_us(),
            1 if reply_requested else 0,
        )
        self._conn.send(b"d", body)
        self._last_status = time.time()

    def _maybe_send_status(self) -> None:
        if time.time() - self._last_status >= self.status_interval_s:
            self.send_standby_status(self.flushed_lsn)


def _parse_notification(body: bytes) -> Notification:
    """NotificationResponse body: pid(4) channel(cstr) payload(cstr)."""
    (pid,) = struct.unpack_from("!i", body, 0)
    end_ch = body.index(b"\x00", 4)
    end_pl = body.index(b"\x00", end_ch + 1)
    return Notification(
        pid, body[4:end_ch].decode(), body[end_ch + 1 : end_pl].decode()
    )


def _error_text(body: bytes) -> str:
    parts = []
    for field in body.split(b"\x00"):
        if len(field) > 1 and field[:1] in (b"S", b"M", b"C"):
            parts.append(field[1:].decode(errors="replace"))
    return ": ".join(parts) or body.decode(errors="replace")


def tail_to_drop_dir(
    client: LRClient,
    drop_dir: str,
    start_lsn: int = 0,
    batch_rows: int = 1000,
    max_messages: int | None = None,
    idle_timeout_s: float | None = None,
) -> int:
    """Bridge the wal2json socket stream into the Structured Streaming
    source contract: buffer XLogData payloads, write each `batch_rows`
    of them (or fewer, at a keepalive) as one JSONL file, and confirm
    the batch's end LSN ONLY after the file is durably renamed into
    `drop_dir` — crash-redelivery is bounded by one batch and absorbed
    by the idempotent downstream.
    Returns messages consumed (for tests / bounded drains).

    `max_messages` only bounds the drain from ABOVE — if the WAL
    produces fewer documents than the bound (wal2json batches a whole
    multi-statement implicit transaction into ONE document; keepalives
    don't count), a drain waiting for the Nth message blocks forever on
    an idle server. `idle_timeout_s` is the matching lower-bound exit,
    with the idle rules of `_tail_drop_dir`."""
    n_seen = 0

    def feed(msg: XLogData, lines: list[bytes]) -> bool:
        nonlocal n_seen
        lines.append(msg.payload)
        n_seen += 1
        return len(lines) >= batch_rows

    _tail_drop_dir(
        client, drop_dir, start_lsn, idle_timeout_s, feed,
        done=lambda: max_messages is not None and n_seen >= max_messages,
    )
    return n_seen


def _tail_drop_dir(
    client: LRClient,
    drop_dir: str,
    start_lsn: int,
    idle_timeout_s: float | None,
    feed: Callable[[XLogData, list[bytes]], bool],
    done: Callable[[], bool],
    confirm_floor: Callable[[], int | None] = lambda: None,
    options: dict[str, str] | None = None,
) -> None:
    """The one drop-dir tail loop behind both plugin tails.

    `feed(msg, lines)` appends each XLogData frame's finished JSONL
    lines (if any) to `lines` and returns True when they are due: they
    are written as one `lr_<lsn>_<seq>.jsonl` file (io.publish_file, so
    `wal2json_stream` never sees a torn file; its millisecond mtime is
    past the previous file's, since Spark's file source orders files by
    mtime alone), and only after that rename is the received LSN
    confirmed — even with nothing written (a commit without a document
    still consumed WAL). The LSN is the received message's end
    (wal_start + payload length), never XLogData.wal_end: that is
    ServerWALEnd, the server's WAL head, and confirming it skips
    undelivered transactions after a restart. It is capped at
    `confirm_floor()` when that is not None. A Keepalive also writes
    and confirms the pending lines: the walsender sends one once it has
    caught up and the client has not confirmed all it sent, so a
    trickle source lands within one keepalive instead of waiting for a
    full batch. `done()`, asked after each data frame, ends the drain.

    `idle_timeout_s` stops cleanly (writing and confirming the pending
    lines) once the socket has been silent that long — "nothing new
    for N seconds" IS the done signal for one-shot backfills and tests.
    Idle means NO byte of a next frame has arrived (`_Conn.frame_bytes
    == 0`): a mid-frame timeout is a slow wire, and raises rather than
    silently dropping the partial frame. The stop abandons CopyBoth, so
    close the client afterwards rather than reusing it for walsender
    SQL (a slot drop needs a fresh connection). After any error the
    pending lines are still written but not confirmed: the socket may
    be dead, and a failed status send would mask the real error;
    redelivery of the unconfirmed tail is absorbed downstream."""
    os.makedirs(drop_dir, exist_ok=True)
    lines: list[bytes] = []
    hi_lsn, seq, mtime_ms = start_lsn, 0, 0

    def flush() -> bool:
        nonlocal seq, mtime_ms
        if not lines:
            return False
        mtime_ms = max(time.time_ns() // 10**6, mtime_ms + 1)
        publish_file(
            os.path.join(drop_dir, f"lr_{hi_lsn:016x}_{seq}.jsonl"),
            [b"\n".join(lines) + b"\n"],
            mtime_ns=mtime_ms * 10**6,
        )
        seq += 1
        lines.clear()
        return True

    def confirm() -> None:
        floor = confirm_floor()
        client.send_standby_status(hi_lsn if floor is None else min(hi_lsn, floor))

    assert client._conn, "connect() first"
    try:
        with client._conn.timeout(idle_timeout_s):
            try:
                for msg in client.start(start_lsn, options=options):
                    if isinstance(msg, Keepalive):
                        if flush():
                            confirm()
                        continue
                    due = feed(msg, lines)
                    hi_lsn = max(hi_lsn, msg.wal_start + len(msg.payload))
                    if due:
                        flush()
                        confirm()
                    if done():
                        break
            except TimeoutError:
                # socket.timeout is TimeoutError since 3.10
                if idle_timeout_s is None or client._conn.frame_bytes > 0:
                    raise
            if flush():
                confirm()
    finally:
        flush()
