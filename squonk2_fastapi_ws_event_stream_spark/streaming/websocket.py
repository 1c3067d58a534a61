"""RFC 6455 WebSocket transport on the Python stdlib — no third-party
packages (this container has no `websockets`/`wsproto`/ASGI server).

This is the reference's defining interface: a client connects to
``ws://host/event-stream/{uuid}?stream_from_*`` and receives every enriched
message from the backing stream (/root/reference/app/app.py:193-373; the
send site is ``websocket.send_text`` at :496-508). Close-code parity:

    1002  bad or >1 ``stream_from_`` param (app/app.py:230-278)
    1000  unknown EventStream uuid       (app/app.py:287-291)
    1013  backing stream does not exist  (app/app.py:314-318)
    1000  normal end (POISON / server stop / client close)
    1009  a client frame over MAX_FRAME_BYTES
    1011  the consumer's query failed; the reason is its exception

Like the reference, the server ACCEPTS the socket first (app/app.py:212)
and then closes with the mapped code, so clients always observe a completed
WebSocket handshake followed by a close frame.

Protocol implementation is from the public RFC 6455 spec:
handshake = HTTP/1.1 101 with ``Sec-WebSocket-Accept =
b64(sha1(key + GUID))``; frames are FIN|opcode, MASK|len7 (126 → u16,
127 → u64), optional 4-byte mask, payload XOR mask[i % 4]. Client→server
frames MUST be masked, server→client MUST NOT be.

The data plane is untouched: each session is its consumer's sink, which
the consumer's `foreachBatch` (manager.py) calls `send` and `close` on —
exactly the K1 "WebSocket sink" seam of SURVEY §2.7.
"""

from __future__ import annotations

import base64
import hashlib
import http.server
import socket
import socketserver
import struct
import threading
import urllib.parse

from pyspark.errors import StreamingQueryException

from ..sources.eventstream import seek_position, stream_exists

WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT, OP_TEXT, OP_BINARY, OP_CLOSE, OP_PING, OP_PONG = 0x0, 0x1, 0x2, 0x8, 0x9, 0xA

CLOSE_NORMAL = 1000
CLOSE_PROTOCOL_ERROR = 1002
CLOSE_MESSAGE_TOO_BIG = 1009
CLOSE_INTERNAL_ERROR = 1011
CLOSE_TRY_AGAIN_LATER = 1013

# A close frame is a control frame: at most 125 payload bytes, two of them
# the code (RFC 6455 §5.5).
MAX_CLOSE_REASON_BYTES = 123

# The largest frame read: uvicorn's default `ws_max_size`, the server the
# reference runs under. A frame declaring more is refused before its
# payload is read, so a client cannot make the server allocate it.
MAX_FRAME_BYTES = 16 * 1024 * 1024

# How long a close waits for a write in progress before it shuts the socket
# down, which fails that write (its client may have stopped reading).
CLOSE_WAIT_S = 1.0

# The C5 query params and the source options they pass to, unparsed: the
# source's `seek_position` is their one parser. Any other param is ignored
# (app/app.py:222-278). There is no server-side count or idle timeout: a
# quiet stream stays open until POISON, a server stop or a client close
# (app/app.py:496-508). Clients set their own limits (es_client.py).
SEEK_PARAMS = {
    "stream_from_ordinal": "startingOrdinal",
    "stream_from_timestamp": "startingTimestampMs",
    "stream_from_datetime": "startingDatetime",
}


def accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept for a client's Sec-WebSocket-Key (RFC 6455 §4.2.2)."""
    digest = hashlib.sha1((client_key + WS_GUID).encode("ascii")).digest()
    return base64.b64encode(digest).decode("ascii")


def encode_frame(opcode: int, payload: bytes, mask: bool = False) -> bytes:
    """Encode one unfragmented frame (FIN always set)."""
    head = bytes([0x80 | (opcode & 0x0F)])
    n = len(payload)
    mask_bit = 0x80 if mask else 0x00
    if n < 126:
        head += bytes([mask_bit | n])
    elif n < 1 << 16:
        head += bytes([mask_bit | 126]) + struct.pack("!H", n)
    else:
        head += bytes([mask_bit | 127]) + struct.pack("!Q", n)
    if mask:
        # Deterministic keys are fine for tests: masking exists to defeat
        # proxy cache-poisoning, not for secrecy (RFC 6455 §10.3).
        key = struct.pack("!I", (id(payload) ^ n ^ 0x5BD1E995) & 0xFFFFFFFF)
        masked = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
        return head + key + masked
    return head + payload


class FrameTooLarge(ValueError):
    """A frame declared more than MAX_FRAME_BYTES of payload."""


def _read_exact(rfile, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = rfile.read(n - len(buf))
        if not chunk:
            raise ConnectionError("socket closed mid-frame")
        buf += chunk
    return buf


def read_frame(rfile) -> tuple[int, bytes]:
    """Read one frame; returns (opcode, unmasked payload). Raises
    ConnectionError on EOF and FrameTooLarge for a frame over
    MAX_FRAME_BYTES, before its payload is read."""
    b0, b1 = _read_exact(rfile, 2)
    opcode = b0 & 0x0F
    masked = bool(b1 & 0x80)
    n = b1 & 0x7F
    if n == 126:
        (n,) = struct.unpack("!H", _read_exact(rfile, 2))
    elif n == 127:
        (n,) = struct.unpack("!Q", _read_exact(rfile, 8))
    if n > MAX_FRAME_BYTES:
        raise FrameTooLarge(f"frame of {n} bytes exceeds the {MAX_FRAME_BYTES}-byte limit")
    key = _read_exact(rfile, 4) if masked else None
    payload = _read_exact(rfile, n)
    if key:
        payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
    return opcode, payload


def close_payload(code: int, reason: str = "") -> bytes:
    """Close-frame payload; the reason is cut to the RFC limit on a UTF-8
    character boundary."""
    raw = reason.encode("utf-8")[:MAX_CLOSE_REASON_BYTES]
    return struct.pack("!H", code) + raw.decode("utf-8", "ignore").encode("utf-8")


def parse_close(payload: bytes) -> tuple[int | None, str]:
    if len(payload) >= 2:
        (code,) = struct.unpack("!H", payload[:2])
        return code, payload[2:].decode("utf-8", "replace")
    return None, ""


class _WsHandler(http.server.BaseHTTPRequestHandler):
    """One thread per WebSocket connection (the reference runs one asyncio
    task per socket; per-connection threads are the WSGI-world equivalent —
    connection counts here are per-stream-singleton, not C10K).

    The stdlib parses the request and answers what is not a WebSocket
    upgrade: 501 for a non-GET method, 414 for an over-long request line,
    431 for too many or too long headers."""

    server: "EventStreamWsServer"
    protocol_version = "HTTP/1.1"

    def setup(self) -> None:
        super().setup()
        # Serializes ALL socket writes: the reader thread answers PING
        # concurrently with the consumer's batches and the close frame,
        # and two unlocked sendall()s can interleave bytes mid-frame,
        # corrupting the WS stream.
        self._wlock = threading.Lock()
        self._closing = threading.Lock()  # held by the first close, the only one

    def log_message(self, format: str, *args) -> None:
        pass  # no access log

    def handle(self) -> None:
        try:
            super().handle()
        except OSError:
            pass  # client went away — at-most-once delivery tolerates this

    def do_GET(self) -> None:
        key = self.headers.get("Sec-WebSocket-Key")
        if "websocket" not in self.headers.get("Upgrade", "").lower() or key is None:
            self.send_error(426)
            return
        url = urllib.parse.urlparse(self.path)
        path_parts = [p for p in url.path.split("/") if p]
        # Path shape: /event-stream/{uuid}
        if len(path_parts) != 2 or path_parts[0] != "event-stream":
            self.send_error(404)
            return
        # Complete the upgrade BEFORE semantic validation — the reference
        # accepts first (app/app.py:212) then closes with a mapped code,
        # and clients depend on seeing the close frame.
        self.send_response(101)
        self.send_header("Upgrade", "websocket")
        self.send_header("Connection", "Upgrade")
        self.send_header("Sec-WebSocket-Accept", accept_key(key))
        self.end_headers()
        self.close_connection = True
        self._consume(path_parts[1], url.query)

    def _send(self, buf: bytes, closing: bool = False) -> None:
        """The one socket write path: one write + flush under the lock. Once
        a close began only its frame is written, after waiting at most
        CLOSE_WAIT_S for a write in progress."""
        if not self._wlock.acquire(timeout=CLOSE_WAIT_S if closing else -1):
            return
        try:
            if self._closing.locked() and not closing:
                raise ConnectionError("the WebSocket is closed")
            self.wfile.write(buf)
            self.wfile.flush()
        finally:
            self._wlock.release()

    def send(self, texts: list[str]) -> None:
        """Write one batch of wire strings as text frames, in one write.
        Raises OSError once the session is closed or its client is gone."""
        self._send(b"".join(encode_frame(OP_TEXT, t.encode()) for t in texts))

    def close(self, code: int, reason: str = "") -> None:
        """Send the close frame and shut the socket down; only the first
        close counts. The shutdown fails a write blocked on a client that
        stopped reading, and ends the reader thread's read."""
        if not self._closing.acquire(blocking=False):
            return
        try:
            self._send(encode_frame(OP_CLOSE, close_payload(code, reason)), closing=True)
        except OSError:
            pass
        try:
            self.connection.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass

    # -- the consume path (C5) --------------------------------------------
    def _consume(self, es_uuid: str, query: str) -> None:
        server = self.server
        q = urllib.parse.parse_qs(query)
        seek = {opt: q[param][0] for param, opt in SEEK_PARAMS.items() if param in q}
        try:
            seek_position(seek)
        except ValueError as exc:
            self.close(CLOSE_PROTOCOL_ERROR, str(exc))
            return
        rec = server.registry.get_by_uuid(es_uuid)
        if rec is None:
            # app/app.py:287-291 — exact reference message, uuid included
            self.close(CLOSE_NORMAL, f"Connect for unknown EventStream {es_uuid}")
            return
        if not stream_exists(server.manager.log_root, rec["routing_key"]):
            # app/app.py:314-318 — exact reference message, uuid included
            self.close(CLOSE_TRY_AGAIN_LATER, f"EventStream {es_uuid} cannot be found")
            return

        handle = server.manager.start_consumer(rec["routing_key"], self, seek=seek)

        def reader() -> None:
            # The client's side: answer PING. A CLOSE frame, EOF or any
            # error ends the session; the stop sends the close echo.
            try:
                while True:
                    opcode, payload = read_frame(self.rfile)
                    if opcode == OP_CLOSE:
                        return
                    if opcode == OP_PING:
                        self._send(encode_frame(OP_PONG, payload))
            except FrameTooLarge as exc:
                self.close(CLOSE_MESSAGE_TOO_BIG, str(exc))
            except (OSError, ValueError):
                pass  # WebSocketDisconnect analog (app/app.py:503-508): drop
            finally:
                server.manager.stop_consumer(rec["routing_key"], handle)

        threading.Thread(target=reader, daemon=True).start()
        # Delivery runs in the consumer's batches. A POISON pill or a stop
        # has closed the session by the time the query ends; a query that
        # fails closes it here.
        try:
            handle.query.awaitTermination()
        except StreamingQueryException as exc:
            self.close(CLOSE_INTERNAL_ERROR, str(exc))


class EventStreamWsServer(socketserver.ThreadingTCPServer):
    """The public WebSocket API process analog (reference port 8080)."""

    daemon_threads = True
    allow_reuse_address = True

    def __init__(self, registry, manager, host: str = "127.0.0.1", port: int = 0):
        self.registry = registry
        self.manager = manager
        super().__init__((host, port), _WsHandler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self.server_address[1]

    def start_background(self) -> "EventStreamWsServer":
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.shutdown()
        self.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Minimal client (test harness + es_client analog of ws_listener.py).
# --------------------------------------------------------------------------
class WsClient:
    """Blocking RFC 6455 client: handshake + masked frames (client→server
    frames MUST be masked, RFC 6455 §5.3)."""

    def __init__(self, host: str, port: int, resource: str, timeout: float = 30.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.rfile = self.sock.makefile("rb")
        key = base64.b64encode(b"0123456789abcdef").decode("ascii")
        req = (
            f"GET {resource} HTTP/1.1\r\n"
            f"Host: {host}:{port}\r\n"
            "Upgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        )
        self.sock.sendall(req.encode("latin-1"))
        status = self.rfile.readline().decode("latin-1")
        if "101" not in status:
            raise ConnectionError(f"handshake rejected: {status.strip()}")
        got_accept = None
        while True:
            line = self.rfile.readline().decode("latin-1")
            if line in ("\r\n", "\n", ""):
                break
            k, _, v = line.partition(":")
            if k.strip().lower() == "sec-websocket-accept":
                got_accept = v.strip()
        if got_accept != accept_key(key):
            raise ConnectionError("bad Sec-WebSocket-Accept")

    def recv(self) -> tuple[int, bytes]:
        """Next frame: (opcode, payload); pongs are surfaced, not hidden."""
        return read_frame(self.rfile)

    def recv_text_or_close(self) -> tuple[str | None, tuple[int | None, str] | None]:
        """Returns (text, None) for a text frame or (None, (code, reason))
        for a close frame."""
        opcode, payload = self.recv()
        if opcode == OP_TEXT:
            return payload.decode("utf-8"), None
        if opcode == OP_CLOSE:
            return None, parse_close(payload)
        return self.recv_text_or_close()  # skip ping/pong

    def ping(self, payload: bytes = b"hi") -> None:
        self.sock.sendall(encode_frame(OP_PING, payload, mask=True))

    def close(self, code: int = CLOSE_NORMAL, reason: str = "") -> None:
        try:
            self.sock.sendall(
                encode_frame(OP_CLOSE, close_payload(code, reason), mask=True)
            )
        except OSError:
            pass

    def shutdown(self) -> None:
        try:
            self.rfile.close()
        finally:
            self.sock.close()
