"""Edge sinks: the demo-service surface of the reference.

S8 websocket broadcast — build/demo-service/main.go wires
`wp.ListenForChanges` into `melody.Broadcast`: every changeset is
json.Marshal-ed and pushed as a text frame to ALL connected websocket
clients. `WebSocketBroadcastSink` is that contract on the Spark side:
a stdlib-only RFC 6455 server (handshake = SHA1/base64 accept key,
unmasked server→client text frames) driven from foreachBatch.

Scale honesty: a broadcast-to-browsers sink is an EDGE fan-out, not a
data-plane sink — the reference streams one Postgres's changes to demo
clients, and this does the same for one micro-batch stream. The
per-batch `collect()` here is therefore the point, not an accident:
payloads leave the cluster through one socket endpoint. The data-plane
path at 100 TB stays ParquetStateSink / Delta.
"""

from __future__ import annotations

import base64
import hashlib
import socket
import struct
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3


def _accept_key(client_key: str) -> str:
    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def ws_text_frame(payload: bytes) -> bytes:
    """One FIN text frame, server→client (unmasked, RFC 6455 §5.2)."""
    n = len(payload)
    head = b"\x81"
    if n < 126:
        head += struct.pack("!B", n)
    elif n < 1 << 16:
        head += struct.pack("!BH", 126, n)
    else:
        head += struct.pack("!BQ", 127, n)
    return head + payload


class WebSocketBroadcastSink:
    """RFC 6455 websocket server broadcasting each micro-batch as JSON
    text frames to every connected client (S8; demo-service
    main.go:57-63). Use as a foreachBatch callable, or call
    `broadcast()` directly.

    port=0 binds an ephemeral port (see `.port` after construction).

    send_timeout_s: write deadline per client. A stalled client (a
    browser that stopped reading) fills its kernel send buffer and a
    deadline-less sendall then blocks FOREVER — wedging every future
    broadcast and, through foreachBatch, the whole streaming query
    behind one dead browser tab. On timeout the client is dropped like
    any other broken connection (melody enforces the same policy via
    its writeWait deadline); eviction of a too-slow-but-alive consumer
    is the documented trade of an edge fan-out sink.
    """

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        send_timeout_s: float = 5.0,
    ):
        self.send_timeout_s = send_timeout_s
        self._srv = socket.create_server((host, port))
        self.host, self.port = self._srv.getsockname()[:2]
        self._clients: list[socket.socket] = []
        self._lock = threading.Lock()  # registry
        self._send_lock = threading.Lock()  # frame writes
        self._closed = False
        self._acceptor = threading.Thread(target=self._accept_loop, daemon=True)
        self._acceptor.start()

    # -- server plumbing --------------------------------------------------

    def _accept_loop(self) -> None:
        while not self._closed:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return  # server socket closed
            try:
                self._handshake(conn)
            except (OSError, ValueError):
                conn.close()
                continue
            # write deadline, NOT blocking-forever: sendall to a client
            # that stopped reading parks inside the kernel buffer wait
            # holding the send lock — socket.timeout is an OSError, so
            # broadcast()'s existing drop-on-failure path evicts it
            conn.settimeout(self.send_timeout_s)
            with self._lock:
                self._clients.append(conn)

    @staticmethod
    def _handshake(conn: socket.socket) -> None:
        conn.settimeout(5.0)
        request = b""
        while b"\r\n\r\n" not in request:
            chunk = conn.recv(4096)
            if not chunk:
                raise ValueError("client closed during handshake")
            request += chunk
        key = None
        for line in request.decode("latin-1").split("\r\n"):
            if line.lower().startswith("sec-websocket-key:"):
                key = line.split(":", 1)[1].strip()
        if key is None:
            raise ValueError("not a websocket upgrade request")
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
            ).encode()
        )
        conn.settimeout(None)

    # -- broadcast surface -------------------------------------------------

    def broadcast(self, payload: bytes) -> int:
        """Send one text frame to all clients; returns the number of
        clients reached. Broken connections are dropped (melody's
        session cleanup). Pruning removes exactly the sockets that
        FAILED — never a snapshot overwrite, so a client that connects
        mid-send is kept and concurrent broadcasts can't clobber each
        other's registry updates. Frame WRITES are serialized by a
        dedicated send lock: sendall releases the GIL between partial
        writes of a large frame, so two concurrent broadcasts would
        otherwise interleave bytes inside one client's frame and
        permanently desync its parser."""
        frame = ws_text_frame(payload)
        with self._lock:
            clients = list(self._clients)
        sent, dead = 0, []
        with self._send_lock:
            for c in clients:
                try:
                    c.sendall(frame)
                    sent += 1
                except OSError:
                    dead.append(c)
                    c.close()
        if dead:
            with self._lock:
                self._clients = [c for c in self._clients if c not in dead]
        return sent

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: each changeset row → one JSON text frame,
        in id order when an `id` column exists (the reference's ordered
        per-change Broadcast loop) — collect() alone returns partition
        order, which is NOT id order on a multi-partition batch."""
        if "id" in batch.columns:
            batch = batch.orderBy("id")
        rows = (
            batch.select(F.to_json(F.struct(*batch.columns)).alias("j"))
            .collect()
        )
        for r in rows:
            self.broadcast(r["j"].encode())

    def n_clients(self) -> int:
        with self._lock:
            return len(self._clients)

    def close(self) -> None:
        self._closed = True
        try:
            self._srv.close()
        finally:
            with self._lock:
                for c in self._clients:
                    c.close()
                self._clients = []

