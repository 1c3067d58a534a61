"""Minimal RFC 6455 client for the load generator.

It is the benchmark's own, so a change to the package's client helpers
never changes what the benchmark measures. Server frames are unmasked;
the only frame this client sends is a masked close.
"""

from __future__ import annotations

import base64
import os
import socket
import struct

OP_TEXT, OP_CLOSE = 0x1, 0x8


class FrameParser:
    """Incremental parser: feed bytes, get (opcode, payload) frames."""

    def __init__(self) -> None:
        self.buf = bytearray()

    def feed(self, data: bytes) -> list[tuple[int, bytes]]:
        buf = self.buf
        buf += data
        out = []
        pos, end = 0, len(buf)
        while end - pos >= 2:
            b0, b1 = buf[pos], buf[pos + 1]
            n, head = b1 & 0x7F, 2
            if n == 126:
                if end - pos < 4:
                    break
                (n,) = struct.unpack_from("!H", buf, pos + 2)
                head = 4
            elif n == 127:
                if end - pos < 10:
                    break
                (n,) = struct.unpack_from("!Q", buf, pos + 2)
                head = 10
            if b1 & 0x80:
                raise ConnectionError("server frames must not be masked")
            if end - pos < head + n:
                break
            out.append((b0 & 0x0F, bytes(buf[pos + head : pos + head + n])))
            pos += head + n
        del buf[:pos]
        return out


def close_code(payload: bytes) -> int | None:
    return struct.unpack("!H", payload[:2])[0] if len(payload) >= 2 else None


def connect(host: str, port: int, resource: str, timeout: float) -> tuple[socket.socket, bytes]:
    """Open a WebSocket; returns the socket and any bytes read past the
    handshake (the first frames may arrive in the same segment)."""
    sock = socket.create_connection((host, port), timeout=timeout)
    key = base64.b64encode(os.urandom(16)).decode("ascii")
    sock.sendall(
        (
            f"GET {resource} HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode("latin-1")
    )
    data = b""
    while b"\r\n\r\n" not in data:
        chunk = sock.recv(4096)
        if not chunk:
            sock.close()
            raise ConnectionError("connection closed during handshake")
        data += chunk
    head, _, rest = data.partition(b"\r\n\r\n")
    if b" 101 " not in head.split(b"\r\n", 1)[0]:
        sock.close()
        raise ConnectionError(f"handshake rejected: {head[:80]!r}")
    return sock, rest


def send_close(sock: socket.socket, code: int = 1000) -> None:
    payload = struct.pack("!H", code)
    mask = os.urandom(4)
    masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    try:
        sock.sendall(bytes([0x80 | OP_CLOSE, 0x80 | len(payload)]) + mask + masked)
    except OSError:
        pass
