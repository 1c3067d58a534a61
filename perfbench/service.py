"""The service under test, assembled the way serve.py assembles it:
get_spark -> Registry -> StreamManager -> create_app + EventStreamWsServer.

With --trace 1 it also installs timing wrappers around the layers' public
calls (from this file, outside the package) and adds two routes the load
generator reads after its measured window:

    POST /bench/relay   batch relay_transform over every stream log (timed)
    GET  /bench/layers  timers, counters, spans and per-micro-batch progress

    python3 perfbench/service.py --port P --ws-port W --work DIR [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracing import Tracer  # noqa: E402

from squonk2_fastapi_ws_event_stream_spark.session import get_spark  # noqa: E402
from squonk2_fastapi_ws_event_stream_spark.sources.registry import Registry  # noqa: E402
from squonk2_fastapi_ws_event_stream_spark.streaming import websocket as ws_mod  # noqa: E402
from squonk2_fastapi_ws_event_stream_spark.streaming.api import create_app  # noqa: E402
from squonk2_fastapi_ws_event_stream_spark.streaming.manager import StreamManager  # noqa: E402
from squonk2_fastapi_ws_event_stream_spark.streaming.websocket import (  # noqa: E402
    EventStreamWsServer,
)

PROGRESS_KEYS = (
    "addBatch", "getBatch", "latestOffset", "queryPlanning",
    "triggerExecution", "walCommit", "commitOffsets",
)
PROGRESS_POLL_S = 2.0
HOST = "127.0.0.1"


class ConsumerLog:
    """Per-micro-batch progress and hub counters of every consumer.

    StreamingQuery.recentProgress keeps only the last 100 batches, so live
    queries are polled every PROGRESS_POLL_S and once more when stopped;
    batches are de-duplicated by (runId, batchId). Records are keyed by the
    query's runId, which is unique per start, never by object identity.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._live: dict[str, object] = {}  # runId -> ConsumerHandle
        self._stopped: dict[str, dict] = {}  # runId -> final hub counters
        self.batches: dict[tuple[str, int], dict] = {}

    @staticmethod
    def run_id(handle) -> str:
        return str(handle.query.runId)

    def started(self, handle) -> None:
        with self._lock:
            self._live[self.run_id(handle)] = handle

    def claim_stop(self, handle) -> bool:
        """True for the first stop of this handle's query only."""
        rid = self.run_id(handle)
        with self._lock:
            if rid in self._stopped:
                return False
            self._stopped[rid] = {}
            return True

    def stopped(self, handle) -> None:
        self.collect(handle)
        rid = self.run_id(handle)
        with self._lock:
            self._stopped[rid] = dict(handle.stats)
            self._live.pop(rid, None)

    def collect(self, handle) -> None:
        rows = {}
        for p in handle.query.recentProgress:
            d = json.loads(p.json)
            rows[(d["runId"], int(d["batchId"]))] = {
                "rows": int(d.get("numInputRows") or 0),
                **{k: float((d.get("durationMs") or {}).get(k, 0.0)) for k in PROGRESS_KEYS},
            }
        with self._lock:
            self.batches.update(rows)

    def poll_forever(self, stop: threading.Event) -> None:
        while not stop.wait(PROGRESS_POLL_S):
            with self._lock:
                handles = list(self._live.values())
            for h in handles:
                try:
                    self.collect(h)
                except Exception:  # noqa: BLE001 — a query stopping under us
                    pass

    def export(self) -> dict:
        with self._lock:
            stats = list(self._stopped.values()) + [
                dict(h.stats) for h in self._live.values()
            ]
            return {"batches": list(self.batches.values()), "stats": stats}


def install_wrappers(tracer: Tracer, consumers: ConsumerLog) -> None:
    """Time the layers' public calls into `tracer` and track every consumer
    in `consumers`."""
    for op in ("create", "get_by_uuid", "get_by_id", "list_all", "delete"):
        setattr(Registry, op, tracer.wrap(getattr(Registry, op), f"registry.{op}"))

    orig_start = StreamManager.start_consumer
    start_timer = tracer.timer("manager.start_consumer")

    def start_consumer(self, stream, *a, **kw):
        t0 = time.perf_counter()
        handle = orig_start(self, stream, *a, **kw)
        t1 = time.perf_counter()
        start_timer.add(t1 - t0)
        tracer.record("manager.start_consumer", t0, t1, sid=stream)
        consumers.started(handle)
        return handle

    StreamManager.start_consumer = start_consumer

    orig_stop = StreamManager.stop_consumer_handle
    stop_timer = tracer.timer("manager.stop_consumer")

    def stop_consumer_handle(handle):
        # The poison-stop thread and the socket handler may both stop one
        # handle: only the first stop is timed and recorded.
        if handle.query is None or not consumers.claim_stop(handle):
            return orig_stop(handle)
        t0 = time.perf_counter()
        try:
            return orig_stop(handle)
        finally:
            t1 = time.perf_counter()
            stop_timer.add(t1 - t0)
            tracer.record("manager.stop_consumer", t0, t1, sid=handle.stream)
            consumers.stopped(handle)

    StreamManager.stop_consumer_handle = staticmethod(stop_consumer_handle)

    orig_encode = ws_mod.encode_frame
    enc_timer = tracer.timer("websocket.encode")

    def encode_frame(opcode, payload, mask=False):
        t0 = time.perf_counter()
        out = orig_encode(opcode, payload, mask)
        enc_timer.add(time.perf_counter() - t0)
        if opcode == ws_mod.OP_TEXT:
            tracer.count("websocket.frames")
            tracer.count("websocket.bytes", len(out))
        elif opcode == ws_mod.OP_CLOSE:
            code, _ = ws_mod.parse_close(payload)
            tracer.count(f"websocket.close_{code}")
        return out

    ws_mod.encode_frame = encode_frame


def add_bench_routes(app, spark, log_root: str, tracer: Tracer, consumers: ConsumerLog) -> None:
    from flask import jsonify

    from squonk2_fastapi_ws_event_stream_spark.streaming.pipeline import relay_transform

    @app.post("/bench/relay")
    def bench_relay():
        # Best of two: the first pass also starts the Python workers.
        best, rows = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            df = spark.read.format("eventstream").option("path", log_root).load()
            rows = relay_transform(df).count()
            best = min(best, time.perf_counter() - t0)
        return jsonify({"rows": rows, "seconds": best})

    @app.get("/bench/layers")
    def bench_layers():
        return jsonify({"trace": tracer.export(), "consumers": consumers.export()})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--ws-port", type=int, required=True)
    ap.add_argument("--work", required=True, help="directory for logs, db, checkpoints")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    tracer = consumers = None
    if args.trace:
        tracer, consumers = Tracer(), ConsumerLog()
        install_wrappers(tracer, consumers)

    t0 = time.perf_counter()
    spark = get_spark("squonk2-ws-event-stream-service")
    if tracer is not None:
        tracer.record("session.get_spark", t0, time.perf_counter())
    spark.sparkContext.setLogLevel("ERROR")
    log_root = os.path.join(args.work, "log")
    registry = Registry(os.path.join(args.work, "event-streams.db"))
    manager = StreamManager(spark, log_root, os.path.join(args.work, "ckpt"))
    app = create_app(spark, registry, manager)
    stop_polling = threading.Event()
    if tracer is not None:
        for endpoint, view in list(app.view_functions.items()):
            if endpoint != "static":
                app.view_functions[endpoint] = tracer.wrap(view, f"api.{endpoint}")
        add_bench_routes(app, spark, log_root, tracer, consumers)
        threading.Thread(
            target=consumers.poll_forever, args=(stop_polling,), daemon=True
        ).start()
    ws_server = EventStreamWsServer(
        registry, manager, host=HOST, port=args.ws_port
    ).start_background()

    def _graceful(_signum, _frame):
        sys.exit(0)

    signal.signal(signal.SIGTERM, _graceful)
    try:
        app.run(host=HOST, port=args.port, threaded=True)
    finally:
        stop_polling.set()
        ws_server.stop()
        manager.stop_all()


if __name__ == "__main__":
    main()
