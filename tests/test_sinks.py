"""S8 websocket broadcast sink: real RFC 6455 server, real client
sockets, per-changeset JSON frames (demo-service main.go parity)."""

import base64
import hashlib
import json
import socket
import struct

import pytest

from warp_pipe_spark.sinks import WebSocketBroadcastSink, ws_text_frame

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3


def read_ws_frames(sock: socket.socket, n_frames: int) -> list[str]:
    """Client-side frame reader: reads n unmasked text frames and
    returns their payloads (assumes len < 2^16)."""
    out = []
    buf = b""
    while len(out) < n_frames:
        chunk = sock.recv(65536)
        if not chunk:
            break
        buf += chunk
        while len(buf) >= 2:
            ln = buf[1] & 0x7F
            off = 2
            if ln == 126:
                if len(buf) < 4:
                    break
                (ln,) = struct.unpack("!H", buf[2:4])
                off = 4
            if len(buf) < off + ln:
                break
            out.append(buf[off : off + ln].decode())
            buf = buf[off + ln :]
    return out


def ws_handshake(host: str, port: int) -> socket.socket:
    """Client handshake: returns a connected socket that has completed
    the RFC 6455 upgrade, with the server's accept key checked against
    one computed here from the spec."""
    s = socket.create_connection((host, port), timeout=5.0)
    key = base64.b64encode(b"0123456789abcdef").decode()
    s.sendall(
        (
            f"GET /ws HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    resp = b""
    while b"\r\n\r\n" not in resp:
        chunk = s.recv(4096)
        if not chunk:
            raise ValueError("server closed during handshake")
        resp += chunk
    first = resp.split(b"\r\n", 1)[0]
    if b"101" not in first:
        raise ValueError(f"upgrade refused: {first!r}")
    expect = base64.b64encode(hashlib.sha1((key + _WS_GUID).encode()).digest())
    if expect not in resp:
        raise ValueError("bad Sec-WebSocket-Accept")
    return s


def test_frame_encoding_lengths():
    assert ws_text_frame(b"ab")[:2] == b"\x81\x02"
    f = ws_text_frame(b"x" * 300)
    assert f[0] == 0x81 and f[1] == 126 and int.from_bytes(f[2:4], "big") == 300


@pytest.fixture()
def sink():
    s = WebSocketBroadcastSink()
    yield s
    s.close()


def _await_clients(sink, n, tries=100):
    import time

    for _ in range(tries):
        if sink.n_clients() >= n:
            return
        time.sleep(0.05)
    raise TimeoutError(f"never saw {n} clients")


def test_handshake_and_broadcast_to_multiple_clients(sink):
    c1 = ws_handshake(sink.host, sink.port)
    c2 = ws_handshake(sink.host, sink.port)
    _await_clients(sink, 2)

    assert sink.broadcast(b'{"id":1}') == 2
    assert read_ws_frames(c1, 1) == ['{"id":1}']
    assert read_ws_frames(c2, 1) == ['{"id":1}']

    # a dropped client is pruned on the next broadcast, others unaffected
    c2.close()
    sink.broadcast(b'{"id":2}')
    sink.broadcast(b'{"id":3}')
    got = read_ws_frames(c1, 2)
    assert got == ['{"id":2}', '{"id":3}']
    c1.close()


def test_foreachbatch_sends_one_frame_per_changeset(spark, sink):
    client = ws_handshake(sink.host, sink.port)
    _await_clients(sink, 1)
    batch = spark.createDataFrame(
        [(1, "insert", "users"), (2, "update", "pets")],
        "id LONG, kind STRING, table_name STRING",
    )
    sink(batch, batch_id=0)  # foreachBatch signature
    frames = [json.loads(f) for f in read_ws_frames(client, 2)]
    assert frames == [
        {"id": 1, "kind": "insert", "table_name": "users"},
        {"id": 2, "kind": "update", "table_name": "pets"},
    ]
    client.close()


def test_stalled_client_evicted_broadcast_never_wedges():
    """A client that stops reading fills its kernel buffers; without a
    write deadline sendall blocks FOREVER holding the send lock — one
    dead browser tab wedges every broadcast and, through foreachBatch,
    the whole streaming query. The deadline must evict the stalled
    client (socket.timeout -> the OSError drop path) while the sink
    keeps serving fresh clients."""
    import socket
    import time

    sink = WebSocketBroadcastSink(send_timeout_s=0.3)
    try:
        stalled = ws_handshake(sink.host, sink.port)
        _await_clients(sink, 1)
        with sink._lock:  # shrink the pipe so it fills fast
            sink._clients[0].setsockopt(
                socket.SOL_SOCKET, socket.SO_SNDBUF, 16384
            )
        stalled.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 16384)

        payload = b"x" * 262144
        t0 = time.time()
        for _ in range(30):  # ~7.5 MB into a ~stalled pipe
            sink.broadcast(payload)
            if sink.n_clients() == 0:
                break
        elapsed = time.time() - t0
        assert sink.n_clients() == 0, "stalled client never evicted"
        assert elapsed < 10, f"broadcast wedged for {elapsed:.1f}s"

        # the sink is still alive for new clients after the eviction
        fresh = ws_handshake(sink.host, sink.port)
        _await_clients(sink, 1)
        assert sink.broadcast(b"hello") == 1
        assert read_ws_frames(fresh, 1) == ["hello"]
        fresh.close()
        stalled.close()
    finally:
        sink.close()
