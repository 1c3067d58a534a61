"""RFC 6455 WebSocket transport on the Python stdlib — no third-party
packages (this container has no `websockets`/`wsproto`/ASGI server).

This is the reference's defining interface: a client connects to
``ws://host/event-stream/{uuid}?stream_from_*`` and receives every enriched
message from the backing stream (/root/reference/app/app.py:193-373; the
send site is ``websocket.send_text`` at :496-508). Close-code parity:

    1002  >1 ``stream_from_`` param      (app/app.py:269-278)
    1000  unknown EventStream uuid       (app/app.py:287-291)
    1013  backing stream does not exist  (app/app.py:314-318)
    1000  normal end (POISON / server stop)
    1011  the consumer's query failed; the reason is its exception

Like the reference, the server ACCEPTS the socket first (app/app.py:212)
and then closes with the mapped code, so clients always observe a completed
WebSocket handshake followed by a close frame.

Protocol implementation is from the public RFC 6455 spec:
handshake = HTTP/1.1 101 with ``Sec-WebSocket-Accept =
b64(sha1(key + GUID))``; frames are FIN|opcode, MASK|len7 (126 → u16,
127 → u64), optional 4-byte mask, payload XOR mask[i % 4]. Client→server
frames MUST be masked, server→client MUST NOT be.

The data plane is untouched: Spark Structured Streaming relays messages
into each consumer's hub queue (manager.py); this module only drains the
hub into WS frames — exactly the K1 "WebSocket sink" seam of SURVEY §2.7.
"""

from __future__ import annotations

import base64
import hashlib
import queue
import socket
import socketserver
import struct
import threading
import time
import urllib.parse
from dataclasses import dataclass
from datetime import datetime

from ..sources.eventstream import stream_exists

WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT, OP_TEXT, OP_BINARY, OP_CLOSE, OP_PING, OP_PONG = 0x0, 0x1, 0x2, 0x8, 0x9, 0xA

CLOSE_NORMAL = 1000
CLOSE_PROTOCOL_ERROR = 1002
CLOSE_INTERNAL_ERROR = 1011
CLOSE_TRY_AGAIN_LATER = 1013

# A close frame is a control frame: at most 125 payload bytes, two of them
# the code (RFC 6455 §5.5).
MAX_CLOSE_REASON_BYTES = 123


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
    ConnectionError on EOF."""
    b0, b1 = _read_exact(rfile, 2)
    opcode = b0 & 0x0F
    masked = bool(b1 & 0x80)
    n = b1 & 0x7F
    if n == 126:
        (n,) = struct.unpack("!H", _read_exact(rfile, 2))
    elif n == 127:
        (n,) = struct.unpack("!Q", _read_exact(rfile, 8))
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


@dataclass
class ConsumeParams:
    """The C5 query params, validated as the reference validates them.

    ``timeout_s`` defaults to None — NO idle disconnect. The reference WS
    endpoint holds a quiet stream's connection open indefinitely until
    POISON or client close (app/app.py:496-508); a finite timeout_s is an
    opt-in bound for test/drain clients.
    """

    starting_ordinal: int | None = None
    starting_timestamp_ms: int | None = None
    starting_datetime: str | None = None
    max_events: int | None = None
    timeout_s: float | None = None
    error: str | None = None

    @classmethod
    def from_query(cls, query: str) -> "ConsumeParams":
        q = urllib.parse.parse_qs(query)

        def one(name: str) -> str | None:
            vals = q.get(name)
            return vals[0] if vals else None

        p = cls()
        n_given = 0
        # Per-field validation mirrors app/app.py:230-266 — each bad value
        # sets the reference's exact message; the mutual-exclusion error
        # then REPLACES any per-field error (app/app.py:269-273), so the
        # precedence matches too.
        if one("stream_from_datetime") is not None:
            n_given += 1
            raw = one("stream_from_datetime")
            try:
                datetime.fromisoformat(raw)  # the engine's parser (Q4 seam)
                p.starting_datetime = raw
            except ValueError:
                p.error = "Unable to parse stream_from_datetime value"
        if one("stream_from_ordinal") is not None:
            n_given += 1
            try:
                p.starting_ordinal = int(one("stream_from_ordinal"))
            except ValueError:
                p.error = "stream_from_ordinal must be an integer"
        if one("stream_from_timestamp") is not None:
            n_given += 1
            try:
                p.starting_timestamp_ms = int(one("stream_from_timestamp"))
            except ValueError:
                p.error = "stream_from_timestamp must be an integer"
        if n_given > 1:
            # app/app.py:269-278 — exact reference message
            p.error = "Cannot provide more than one 'stream_from_' variable"
        if p.error:
            return p
        try:
            if one("max_events") is not None:
                p.max_events = int(one("max_events"))
            if one("timeout_s") is not None:
                p.timeout_s = float(one("timeout_s"))
        except ValueError as exc:
            p.error = f"invalid parameter: {exc}"
        return p


class _WsHandler(socketserver.StreamRequestHandler):
    """One thread per WebSocket connection (the reference runs one asyncio
    task per socket; per-connection threads are the WSGI-world equivalent —
    connection counts here are per-stream-singleton, not C10K)."""

    server: "EventStreamWsServer"

    def setup(self) -> None:
        super().setup()
        # Serializes ALL socket writes: the ping-reader thread answers
        # PONG concurrently with the delivery loop's text/close frames,
        # and two unlocked sendall()s can interleave bytes mid-frame,
        # corrupting the WS stream.
        self._wlock = threading.Lock()

    def handle(self) -> None:  # noqa: C901 — linear protocol walk
        try:
            request_line = self.rfile.readline(8192).decode("latin-1").strip()
            if not request_line:
                return
            parts = request_line.split()
            if len(parts) != 3 or parts[0] != "GET":
                self._http_error(400, "Bad Request")
                return
            target = parts[1]
            headers: dict[str, str] = {}
            while True:
                line = self.rfile.readline(8192).decode("latin-1")
                if line in ("\r\n", "\n", ""):
                    break
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()

            if (
                "websocket" not in headers.get("upgrade", "").lower()
                or "sec-websocket-key" not in headers
            ):
                self._http_error(426, "Upgrade Required")
                return

            url = urllib.parse.urlparse(target)
            path_parts = [p for p in url.path.split("/") if p]
            # Path shape: /event-stream/{uuid}
            if len(path_parts) != 2 or path_parts[0] != "event-stream":
                self._http_error(404, "Not Found")
                return
            es_uuid = path_parts[1]

            # Complete the upgrade BEFORE semantic validation — the
            # reference accepts first (app/app.py:212) then closes with a
            # mapped code, and clients depend on seeing the close frame.
            self._send_101(headers["sec-websocket-key"])
            self._consume(es_uuid, url.query)
        except (ConnectionError, OSError):
            pass  # client went away — at-most-once delivery tolerates this

    # -- handshake/HTTP plumbing ------------------------------------------
    def _send_101(self, client_key: str) -> None:
        resp = (
            "HTTP/1.1 101 Switching Protocols\r\n"
            "Upgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Accept: {accept_key(client_key)}\r\n"
            "\r\n"
        )
        self.wfile.write(resp.encode("latin-1"))

    def _http_error(self, code: int, text: str) -> None:
        body = text.encode("utf-8")
        self.wfile.write(
            (
                f"HTTP/1.1 {code} {text}\r\n"
                "Content-Type: text/plain\r\n"
                f"Content-Length: {len(body)}\r\n"
                "Connection: close\r\n\r\n"
            ).encode("latin-1")
            + body
        )

    def _close(self, code: int, reason: str = "") -> None:
        try:
            with self._wlock:
                self.wfile.write(encode_frame(OP_CLOSE, close_payload(code, reason)))
                self.wfile.flush()
        except OSError:
            pass

    def _send_text(self, text: str) -> None:
        with self._wlock:
            self.wfile.write(encode_frame(OP_TEXT, text.encode("utf-8")))
            self.wfile.flush()

    def _send_text_many(self, texts: list[str]) -> None:
        """Bulk delivery: encode every frame, then ONE write + flush under
        one lock acquisition — the per-frame write/flush was the other
        half of the per-connection delivery ceiling (round-6 task #6).
        Frames stay individual RFC 6455 text frames; only the syscalls
        are batched."""
        buf = b"".join(encode_frame(OP_TEXT, t.encode("utf-8")) for t in texts)
        with self._wlock:
            self.wfile.write(buf)
            self.wfile.flush()

    # -- the consume path (C5) --------------------------------------------
    def _consume(self, es_uuid: str, query: str) -> None:
        server = self.server
        params = ConsumeParams.from_query(query)
        if params.error:
            self._close(CLOSE_PROTOCOL_ERROR, params.error)
            return
        rec = server.registry.get_by_uuid(es_uuid)
        if rec is None:
            # app/app.py:287-291 — exact reference message, uuid included
            self._close(CLOSE_NORMAL, f"Connect for unknown EventStream {es_uuid}")
            return
        if not stream_exists(server.manager.log_root, rec["routing_key"]):
            # app/app.py:314-318 — exact reference message, uuid included
            self._close(CLOSE_TRY_AGAIN_LATER, f"EventStream {es_uuid} cannot be found")
            return

        handle = server.manager.start_consumer(
            rec["routing_key"],
            starting_ordinal=params.starting_ordinal,
            starting_timestamp_ms=params.starting_timestamp_ms,
            starting_datetime=params.starting_datetime,
        )

        # Watch for client frames (close / ping) without blocking delivery.
        client_closed = threading.Event()

        def reader() -> None:
            try:
                while not client_closed.is_set():
                    opcode, payload = read_frame(self.rfile)
                    if opcode == OP_CLOSE:
                        client_closed.set()
                        return
                    if opcode == OP_PING:
                        with self._wlock:
                            self.wfile.write(encode_frame(OP_PONG, payload))
                            self.wfile.flush()
            except (ConnectionError, OSError):
                client_closed.set()

        rt = threading.Thread(target=reader, daemon=True)
        rt.start()

        delivered = 0
        code, reason = CLOSE_NORMAL, ""
        try:
            # Poll the hub in short ticks so a client close frame (observed
            # by the reader thread) or a failed query interrupts delivery
            # promptly even when the stream is idle. With no timeout_s (the
            # default — the reference holds quiet streams open until POISON
            # or client close) the loop waits forever; a finite timeout_s
            # bounds the idle wait for test/drain clients.
            idle_deadline = (
                time.monotonic() + params.timeout_s
                if params.timeout_s is not None
                else None
            )
            while not client_closed.is_set():
                if params.max_events is not None and delivered >= params.max_events:
                    break
                try:
                    chunk = handle.hub.get(timeout=0.25)
                except queue.Empty:
                    if not handle.ended and not handle.query.isActive:
                        # Died without a stop or a pill: no sentinel comes.
                        code, reason = CLOSE_INTERNAL_ERROR, str(handle.query.exception())
                        break
                    if idle_deadline is not None and time.monotonic() >= idle_deadline:
                        break
                    continue
                if chunk is None:  # poison / consumer stop sentinel
                    break
                # One micro-batch slice per hub item: bulk-encode up to
                # the max_events boundary and write once.
                take = (
                    chunk
                    if params.max_events is None
                    else chunk[: params.max_events - delivered]
                )
                self._send_text_many(take)
                delivered += len(take)
                if idle_deadline is not None:
                    idle_deadline = time.monotonic() + params.timeout_s
            self._close(code, reason)
        except (ConnectionError, OSError):
            pass  # WebSocketDisconnect analog (app/app.py:503-508): drop
        finally:
            client_closed.set()
            server.manager.stop_consumer(rec["routing_key"], handle)


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

    def send_text(self, text: str) -> None:
        self.sock.sendall(encode_frame(OP_TEXT, text.encode("utf-8"), mask=True))

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
