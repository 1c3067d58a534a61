"""RabbitMQ-stream adapter seam for the eventstream source.

The reference's source of truth is a RabbitMQ *stream* consumed with an
offset specification (`/root/reference/app/app.py:304-310,564-573`); this
sandbox has no broker, so the engine's tested source is the file-backed log
(`eventstream.py`, sanctioned by SURVEY §1.4). This module is the
production seam: the SAME option surface (`stream`, `startingOrdinal`,
`startingTimestampMs`, `startingDatetime`, mutual exclusion, UTC-pinned
datetime parsing) mapped onto broker offset specs, with connection options
(`host`, `port`, `vhost`, `username`, `password`) replacing `path`.

`offset_spec(options)` is the pure, unit-tested mapping of
`eventstream.seek_position` (the one copy of the seek rules) to the
broker-level spec:

    ("next", None)            default — only new events (OffsetType.NEXT)
    ("offset", n)             EXCLUSIVE ordinal n → broker offset n (the
                              broker's 0-based inclusive offset n means
                              "first delivered ordinal is n+1", which is
                              the README's exclusive contract)
    ("timestamp", ms)         broker-timestamp seek, milliseconds

The DataSource itself requires a RabbitMQ stream client library
(``rstream``); in environments without it, constructing a reader raises
ImportError with a pointer at the file-backed source. No network code runs
at import time, so registering the source is always safe.
"""

from __future__ import annotations

try:  # pragma: no cover - exercised only where pyspark DS API is present
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader
except ImportError:  # pragma: no cover
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceStreamReader = object  # type: ignore[assignment,misc]

from .eventstream import ENVELOPE, seek_position

def offset_spec(options) -> tuple[str, int | None]:
    """Map ``eventstream.seek_position`` (the file source's seek rules) to
    a broker offset specification."""
    kind, value = seek_position(options)
    return {"latest": "next", "ordinal": "offset", "timestamp": "timestamp"}[kind], value


def connection_params(options) -> dict:
    """Extract + default the broker connection parameters."""
    if not options.get("stream"):
        raise ValueError("rabbitmq-eventstream requires a 'stream' option")
    return {
        "host": options.get("host") or "localhost",
        "port": int(options.get("port") or 5552),
        "vhost": options.get("vhost") or "/",
        "username": options.get("username") or "guest",
        "password": options.get("password") or "guest",
        "stream": options.get("stream"),
    }


class RabbitMQStreamDataSource(DataSource):
    """``spark.readStream.format("rabbitmq-eventstream")`` — same envelope
    schema as the file-backed source, so downstream relay/aggregation code
    is source-agnostic."""

    @classmethod
    def name(cls) -> str:
        return "rabbitmq-eventstream"

    def schema(self):
        return ENVELOPE

    def streamReader(self, schema) -> "DataSourceStreamReader":
        params = connection_params(self.options)
        spec = offset_spec(self.options)
        try:
            import rstream  # noqa: F401
        except ImportError as exc:  # pragma: no cover - no broker lib here
            raise ImportError(
                "rabbitmq-eventstream needs the 'rstream' client library, "
                "which is not installed in this environment. Use the "
                "file-backed 'eventstream' source (same options minus "
                f"host/vhost) for local/offline runs. Resolved connection: "
                f"{params['host']}:{params['port']}{params['vhost']} "
                f"stream={params['stream']}, offset spec={spec}."
            ) from exc
        raise NotImplementedError(  # pragma: no cover - requires a broker
            "broker-backed reader: subscribe with rstream.Consumer("
            "host/port/vhost/credentials), offset specification from "
            "offset_spec(), and yield (key, value, offset, timestamp) "
            "batches — the envelope contract of eventstream.ENVELOPE"
        )
