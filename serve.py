#!/usr/bin/env python
"""Run the event-stream service: Spark-backed control plane + WebSocket API.

Usage:
    python serve.py [--port 8081] [--ws-port 8080] [--log-root /data/event-log] \
                    [--db /data/event-streams.db] [--checkpoints /data/ckpt]

One process, two listeners — matching the reference's split
(docker-entrypoint.sh:8-10): the internal REST API (C1-C4) on --port, and
the public WebSocket API (C5, the only consume path; RFC 6455 on the
stdlib, streaming/websocket.py) on --ws-port. Both front one SparkSession.
"""

from __future__ import annotations

import argparse

from squonk2_fastapi_ws_event_stream_spark.session import get_spark
from squonk2_fastapi_ws_event_stream_spark.sources.registry import Registry
from squonk2_fastapi_ws_event_stream_spark.streaming.api import create_app
from squonk2_fastapi_ws_event_stream_spark.streaming.manager import StreamManager
from squonk2_fastapi_ws_event_stream_spark.streaming.websocket import (
    EventStreamWsServer,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, default=8081)
    ap.add_argument("--ws-port", type=int, default=8080)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--log-root", default="/tmp/event-log")
    ap.add_argument("--db", default="/tmp/event-streams.db")
    ap.add_argument("--checkpoints", default="/tmp/es-checkpoints")
    ap.add_argument("--log-dir", default=None, help="rotating es.log/access.log dir")
    args = ap.parse_args()

    if args.log_dir:
        from squonk2_fastapi_ws_event_stream_spark.logging_setup import configure_logging

        configure_logging(args.log_dir).info("service starting")

    spark = get_spark("squonk2-ws-event-stream-service")
    spark.sparkContext.setLogLevel("ERROR")
    registry = Registry(args.db)
    manager = StreamManager(spark, args.log_root, args.checkpoints)
    app = create_app(spark, registry, manager)
    ws_server = EventStreamWsServer(
        registry, manager, host=args.host, port=args.ws_port
    ).start_background()
    print(f"WebSocket API: ws://{args.host}:{ws_server.port}/event-stream/<uuid>")

    # Graceful shutdown on SIGTERM — the k8s pre-stop / probes analog
    # (reference: hooks/pre-stop-hook.sh writes a poison file the probes
    # read). Here the handler stops consumers synchronously so in-flight
    # StreamingQueries checkpoint cleanly before the process exits.
    import signal
    import sys as _sys

    def _graceful(_signum, _frame):
        ws_server.stop()
        manager.stop_all()
        _sys.exit(0)

    signal.signal(signal.SIGTERM, _graceful)
    try:
        app.run(host=args.host, port=args.port, threaded=True)
    finally:
        ws_server.stop()
        manager.stop_all()


if __name__ == "__main__":
    main()
