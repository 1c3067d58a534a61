"""Per-stream StreamingQuery lifecycle management.

The reference arbitrates "at most one live consumer per stream" through a
memcached knock-out cell checked on every message (/root/reference/app/
app.py:320-344,451-462). Spark's model makes that protocol unnecessary:
the control plane owns exactly one StreamingQuery handle per stream
(SURVEY §1.4) — a new consumer replaces the previous one, whose query it
stops once its own has started, and DELETE stops it synchronously (better
than the reference, where an idle consumer lingers until the next message
or a POISON pill, app/app.py:677-717; SURVEY §3.4).

Delivery: each query's `foreachBatch` writes its wire strings straight to
the consumer's sink, its WebSocket session (websocket.py), as the
reference's callback awaits `websocket.send_text` (app/app.py:496-508;
SURVEY §2.7 K1). Every stop goes through `stop_consumer_handle`, which
closes the sink before it stops the query, so it never waits on a socket.
"""

from __future__ import annotations

import shutil
import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..sources.eventstream import EventStreamDataSource
from .pipeline import annotate
from .websocket import CLOSE_NORMAL


@dataclass
class ConsumerHandle:
    stream: str
    # Where the consumer delivers: `send(texts)` writes one batch of wire
    # strings and raises OSError once delivery is over; `close(code)` ends
    # delivery, and only its first call counts.
    sink: object
    # Unique per start and removed on stop: every start seeks from the
    # client's parameters, so no consumer ever resumes from a checkpoint.
    checkpoint: str
    query: object = None
    # Set once the consumer will deliver nothing more: its POISON pill
    # arrived, its sink refused a batch, or a stop began.
    ended: bool = False
    stats: dict = field(default_factory=lambda: {"received": 0, "sent": 0})


class StreamManager:
    def __init__(self, spark: SparkSession, log_root: str, checkpoint_root: str):
        self.spark = spark
        self.log_root = log_root
        self.checkpoint_root = checkpoint_root
        self._consumers: dict[str, ConsumerHandle] = {}
        self._lock = threading.Lock()
        spark.dataSource.register(EventStreamDataSource)

    def start_consumer(self, stream: str, sink, seek: dict | None = None) -> ConsumerHandle:
        """Start (or replace) the single consumer for a stream, delivering
        to ``sink``. ``seek`` maps seek option names to raw values; the
        source parses them (`eventstream.seek_position`)."""
        handle = ConsumerHandle(
            stream=stream,
            sink=sink,
            checkpoint=f"{self.checkpoint_root}/{stream}-{uuid.uuid4().hex}",
        )

        reader = self.spark.readStream.format("eventstream").options(
            path=self.log_root, stream=stream, **(seek or {})
        )

        # The whole relay transform (decode, filters, enrichment, poison
        # detection) runs JVM-side inside the streaming query; foreachBatch
        # collects only the final delivery rows (SURVEY §2.7 K1: delivery is
        # per-connection and driver-side, matching the reference's single
        # socket per stream).
        relayed = annotate(reader.load()).select("offset", "out", "is_poison")

        def push_batch(batch_df, batch_id):  # runs on the driver per micro-batch
            if handle.ended:
                return
            # One Arrow-batched collect; the wire strings cross as a column
            # and reach the socket in one write per batch.
            tbl = batch_df.toArrow().sort_by("offset")
            outs = tbl["out"].to_pylist()
            poisons = tbl["is_poison"].to_pylist()
            try:
                # Never forwarded; stops the consumer
                # (app/app.py:463-467,520-524). Rows after the pill are
                # neither counted nor delivered.
                cut = poisons.index(True)
                poisoned = True
            except ValueError:
                cut = len(outs)
                poisoned = False
            handle.stats["received"] += cut + (1 if poisoned else 0)
            texts = [s for s in outs[:cut] if s is not None]
            try:
                handle.sink.send(texts)
            except OSError:  # the client is gone or a stop closed the sink
                handle.ended = True
                return
            handle.stats["sent"] += len(texts)
            if poisoned:
                # The close ends the session, whose teardown stops this
                # handle: a query cannot stop itself from inside a batch.
                handle.ended = True
                handle.sink.close(CLOSE_NORMAL)

        handle.query = (
            relayed.writeStream.foreachBatch(push_batch)
            .option("checkpointLocation", handle.checkpoint)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        # The one replacement point: registering the new handle and taking
        # the one it replaces happen under one lock, so when two starts for
        # a stream interleave, the later one still stops the earlier.
        with self._lock:
            replaced = self._consumers.get(stream)
            self._consumers[stream] = handle
        if replaced is not None:
            self.stop_consumer_handle(replaced)
        return handle

    def stop_consumer(self, stream: str, handle: ConsumerHandle | None = None) -> None:
        """Stop `stream`'s consumer.

        Without `handle`, stop whatever is registered. With `handle`, stop
        that handle, and deregister it only if it is still current: a
        teardown that captured its handle earlier (a finished socket) must
        not stop a replacement consumer that a newer request has since
        registered under the same stream name.
        """
        with self._lock:
            current = self._consumers.get(stream)
            if handle is None or current is handle:
                self._consumers.pop(stream, None)
                handle = current
        if handle is not None:
            self.stop_consumer_handle(handle)

    @staticmethod
    def stop_consumer_handle(handle: ConsumerHandle) -> None:
        handle.ended = True
        # Close first: a batch blocked writing to a client that stopped
        # reading then fails at once, so query.stop() does not wait on it.
        handle.sink.close(CLOSE_NORMAL)
        handle.query.stop()
        shutil.rmtree(handle.checkpoint, ignore_errors=True)

    def snapshot(self) -> dict[str, dict]:
        """Consistent per-stream health view (used by /event-stream/health/)."""
        with self._lock:
            handles = dict(self._consumers)
        return {
            stream: {
                "active": h.query.isActive,
                "received": h.stats["received"],
                "sent": h.stats["sent"],
            }
            for stream, h in handles.items()
        }

    def stop_all(self) -> None:
        with self._lock:
            handles = list(self._consumers.values())
            self._consumers.clear()
        for h in handles:
            self.stop_consumer_handle(h)
