"""Control-plane REST API — the reference's internal API surface (C1-C4,
SURVEY §2.8).

Request/response shapes mirror /root/reference/app/app.py:150-187 exactly:

    GET    /event-stream/version/   → {protocol, name, version}     (C1, :596-603)
    POST   /event-stream/           → 201 {id, location}            (C2, :606-649)
    GET    /event-stream/           → {event_streams: [...]}        (C3, :652-674)
    DELETE /event-stream/<id>       → 204 | 404                     (C4, :677-717)

The consume path (C5, app/app.py:193-373) is WebSocket only, as in the
reference (protocol string "WEBSOCKET", app/app.py:598-603): an RFC 6455
server on the Python stdlib (`streaming/websocket.py`) that serve.py
starts beside this app on its own port, matching the reference's
two-listener split (public WS 8080 / internal REST 8081,
docker-entrypoint.sh:8-10).

Flask (WSGI) is fine here: the heavy lifting is inside Spark; the API layer
only manages StreamingQuery handles — it is control plane, not data plane.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

from flask import Flask, jsonify, request

from .. import __version__
from ..sources.registry import Registry
from .manager import StreamManager

# Native RFC 6455 server (streaming/websocket.py) serves C5 — same protocol
# string as the reference (app/app.py:598-603).
PROTOCOL = "WEBSOCKET"
NAME = "PySpark Structured Streaming"


def _location(base_url: str, uuid: str) -> str:
    # _get_location analog (app/app.py:104-108)
    return f"{base_url.rstrip('/')}/event-stream/{uuid}"


def create_app(
    spark: SparkSession, registry: Registry, manager: StreamManager
) -> Flask:
    app = Flask("squonk2-ws-event-stream-spark")

    @app.get("/event-stream/health/")
    def health():
        """Readiness/liveness analog of the reference's probe scripts
        (probes/readiness.sh, probes/liveness.sh): reports Spark session
        liveness and the per-stream consumer states. The liveness check is
        one JVM call, not a Spark job, so polling it costs the engine
        nothing."""
        try:
            spark_ok = not spark.sparkContext._jsc.sc().isStopped()
        except Py4JError:  # the JVM gateway itself is gone
            spark_ok = False
        status = 200 if spark_ok else 503
        return jsonify({"spark": spark_ok, "consumers": manager.snapshot()}), status

    @app.get("/event-stream/version/")
    def version():  # C1
        return jsonify(
            {"protocol": PROTOCOL, "name": NAME, "version": __version__}
        )

    @app.post("/event-stream/")
    def post_es():  # C2
        body = request.get_json(silent=True)
        routing_key = body.get("routing_key") if isinstance(body, dict) else None
        if not routing_key:
            return jsonify({"detail": "routing_key is required"}), 422
        # A routing key names one directory under the log root
        # (eventstream.stream_dir), so it must be one path component.
        if (
            not isinstance(routing_key, str)
            or os.path.basename(routing_key) != routing_key
            or routing_key in (".", "..")
        ):
            return jsonify({"detail": "routing_key must be one path component"}), 422
        rec = registry.create(routing_key)
        return (
            jsonify({"id": rec["id"], "location": _location(request.host_url, rec["uuid"])}),
            201,
        )

    @app.get("/event-stream/")
    def get_es():  # C3
        streams = [
            {
                "id": r["id"],
                "location": _location(request.host_url, r["uuid"]),
                "routing_key": r["routing_key"],
            }
            for r in registry.list_all()
        ]
        return jsonify({"event_streams": streams})

    @app.delete("/event-stream/<int:es_id>")
    def delete_es(es_id: int):  # C4
        rec = registry.get_by_id(es_id)
        if rec is None:
            # 404 analog (app/app.py:688-694)
            return jsonify({"detail": f"EventStream {es_id} is not known"}), 404
        # Stop the live consumer synchronously — better than the reference,
        # where an idle consumer lingers until poisoned (SURVEY §3.4).
        manager.stop_consumer(rec["routing_key"])
        registry.delete(es_id)
        return "", 204

    return app

