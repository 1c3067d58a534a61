"""Per-stream StreamingQuery lifecycle management.

The reference arbitrates "at most one live consumer per stream" through a
memcached knock-out cell checked on every message (/root/reference/app/
app.py:320-344,451-462). Spark's model makes that protocol unnecessary:
the control plane owns exactly one StreamingQuery handle per stream
(SURVEY §1.4) — starting a new consumer stops the previous query first,
and DELETE stops it synchronously (better than the reference, where an
idle consumer lingers until the next message or a POISON pill,
app/app.py:677-717; SURVEY §3.4).

Delivery: each query runs `foreachBatch` → an in-process hub queue of wire
strings that the WebSocket layer (websocket.py) drains into text frames
(the WebSocket-sink pattern of SURVEY §2.7 K1). Every stop goes through
`stop_consumer_handle` and puts nothing on the hub: the socket layer ends
once the hub is drained and the query is no longer active.
"""

from __future__ import annotations

import queue
import shutil
import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..sources.eventstream import EventStreamDataSource
from .pipeline import annotate

# The hub hands the socket layer CHUNKS (lists of wire strings), one queue
# item per micro-batch slice, so a 20k-message replay batch costs ~10
# queue operations instead of 20k — per-row Queue.put/get was the
# per-connection delivery ceiling (round-6 task #6). Backpressure:
# maxsize counts chunks, so the bound is CHUNK_ROWS x maxsize = 32k
# buffered messages per connection (vs 10k before — same order).
CHUNK_ROWS = 2048
HUB_MAX_CHUNKS = 16


@dataclass
class ConsumerHandle:
    stream: str
    hub: "queue.Queue[list[str] | None]"
    # Unique per start and removed on stop: every start seeks from the
    # client's parameters, so no consumer ever resumes from a checkpoint.
    checkpoint: str
    query: object = None
    # Set once the consumer will deliver nothing more: its POISON pill
    # arrived or a stop began. A query that ends without it failed.
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

    def start_consumer(self, stream: str, seek: dict | None = None) -> ConsumerHandle:
        """Start (or replace) the single consumer for a stream. ``seek``
        maps seek option names to raw values; the source parses them
        (`eventstream.seek_position`)."""
        self.stop_consumer(stream)

        handle = ConsumerHandle(
            stream=stream,
            hub=queue.Queue(maxsize=HUB_MAX_CHUNKS),
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

        def offer(item) -> bool:
            # A stop sets `ended`, then waits for this batch: give up within
            # a tick rather than wait on a socket that may be gone.
            while not handle.ended:
                try:
                    handle.hub.put(item, timeout=0.25)
                    return True
                except queue.Full:
                    pass
            return False

        def push_batch(batch_df, batch_id):  # runs on the driver per micro-batch
            if handle.ended:
                return
            # One Arrow-batched collect; the wire strings cross as a column
            # and reach the hub in ~batch/CHUNK_ROWS queue operations.
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
            chunk = [s for s in outs[:cut] if s is not None]
            for i in range(0, len(chunk), CHUNK_ROWS):
                piece = chunk[i : i + CHUNK_ROWS]
                if not offer(piece):
                    return
                handle.stats["sent"] += len(piece)
            if poisoned:
                # The socket layer closes on the sentinel and its teardown
                # stops this handle.
                offer(None)
                handle.ended = True

        handle.query = (
            relayed.writeStream.foreachBatch(push_batch)
            .option("checkpointLocation", handle.checkpoint)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        with self._lock:
            self._consumers[stream] = handle
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
