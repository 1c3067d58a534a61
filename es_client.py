#!/usr/bin/env python
"""WebSocket consume client — the analog of the reference's manual test
listener (ws_listener.py): connects to the public WebSocket API over
RFC 6455, parses both wire formats, prints per-message lines and session
byte stats (ws_listener.py:32-48,54-81).

Usage:
    python es_client.py ws://localhost:8080 <uuid> [-o ORDINAL | -t MS | -d DT]
                        [--max-events N] [--timeout S]
"""

from __future__ import annotations

import argparse
import json
import sys
import urllib.parse

from squonk2_fastapi_ws_event_stream_spark.streaming.websocket import WsClient


def parse_message(line: str) -> dict:
    """Parse one enriched message (either wire format) — the same dispatch
    the reference's listener performs (ws_listener.py:54-72)."""
    if line.startswith("{"):
        msg = json.loads(line)
        return {
            "format": "json",
            "message_type": msg.get("message_type"),
            "ordinal": msg.get("ess_ordinal"),
            "timestamp": msg.get("ess_timestamp"),
            "body": msg.get("message_body"),
        }
    parts = line.split("|")
    fields = {}
    for part in parts[1:]:
        k, _, v = part.partition(":")
        fields[k.strip()] = v.strip()
    return {
        "format": "prototext",
        "message_type": parts[0],
        "ordinal": int(fields["ordinal"]) if "ordinal" in fields else None,
        "timestamp": int(fields["timestamp"]) if "timestamp" in fields else None,
        "body": parts[1:-2],
    }


class ByteStats:
    """total/min/max/mean message size (ws_listener.py:32-35,43-48,78-81)."""

    def __init__(self) -> None:
        self.total_bytes = 0
        self.total_messages = 0
        self.min_size: int | None = None
        self.max_size: int | None = None

    def add(self, n: int) -> None:
        self.total_bytes += n
        self.total_messages += 1
        self.min_size = n if self.min_size is None else min(self.min_size, n)
        self.max_size = n if self.max_size is None else max(self.max_size, n)

    def summary(self) -> dict:
        mean = round(self.total_bytes / self.total_messages) if self.total_messages else 0
        return {
            "total_bytes": self.total_bytes,
            "total_messages": self.total_messages,
            "min": self.min_size,
            "max": self.max_size,
            "mean": mean,
        }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("base_url", help="ws://host:port of the WebSocket API")
    ap.add_argument("uuid")
    ap.add_argument("-o", "--ordinal", type=int)
    ap.add_argument("-t", "--timestamp", type=int)
    ap.add_argument("-d", "--datetime")
    ap.add_argument("--max-events", type=int, default=100)
    ap.add_argument("--timeout", type=float, default=10.0)
    args = ap.parse_args(argv)

    params: dict = {"max_events": args.max_events, "timeout_s": args.timeout}
    if args.ordinal is not None:
        params["stream_from_ordinal"] = args.ordinal
    if args.timestamp is not None:
        params["stream_from_timestamp"] = args.timestamp
    if args.datetime is not None:
        params["stream_from_datetime"] = args.datetime

    stats = ByteStats()
    u = urllib.parse.urlparse(args.base_url)
    resource = f"/event-stream/{args.uuid}?" + urllib.parse.urlencode(params)
    # client-side timeout: the server's timeout_s bounds the idle wait,
    # but a hung/unreachable server must not block forever
    c = WsClient(u.hostname, u.port or 80, resource, timeout=args.timeout + 30)
    try:
        while True:
            text, close = c.recv_text_or_close()
            if text is None:
                print(f"closed: {close}", file=sys.stderr)
                break
            stats.add(len(text.encode("utf-8")))
            m = parse_message(text)
            print(f"[{m['ordinal']}] {m['timestamp']} {m['message_type']} {m['body']}")
    finally:
        c.shutdown()
    print(json.dumps(stats.summary()), file=sys.stderr)


if __name__ == "__main__":
    main()
