"""Custom "eventstream" DataSource: a keyed, ordered, append-only event log.

Spark-native replacement for the reference's RabbitMQ stream consumer
(/root/reference/app/app.py:304-318,564-580). The physical log is a
directory of per-stream append-only JSONL files; the source exposes the
Kafka-shaped envelope the enrichment pipeline consumes (SURVEY §1.4):

    key string, value binary, offset long, timestamp timestamp

Semantics reproduced from the reference:
- per-stream total order: every stream is exactly ONE input partition —
  ordering across partitions is not guaranteed in Spark, so parallelism
  comes from many streams, matching the reference's model
  (SURVEY §4.2; app/app.py per-connection consumer).
- offset/time replay pushed into the source (the reference pushes the
  offset spec to the broker, app/app.py:568-573): options
  `startingOrdinal` / `startingTimestampMs` / `startingDatetime` seek
  EXCLUSIVE of the given position (README.md:196-202), ordinal 0 included
  (the reference's falsy-zero bug is fixed, SURVEY §2.2).
- a replay position older than retention (i.e. before the first retained
  event) silently starts at the first retained event (README.md:226-233);
  an ordinal past the head attaches at the head, as a "latest" seek does.
- missing stream → error at analysis time (WS close 1013 analog,
  app/app.py:311-318).

Usage:
    spark.dataSource.register(EventStreamDataSource)
    spark.readStream.format("eventstream")
         .option("path", log_root).option("stream", routing_key)
         .option("startingOrdinal", 100).load()
Batch reads (`spark.read.format("eventstream")`) scan the same log —
with no `stream` option they scan every stream, one partition each.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from datetime import datetime, timezone

ENVELOPE = StructType(
    [
        StructField("key", StringType()),
        StructField("value", BinaryType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
    ]
)

LOG_FILE = "log.jsonl"


# ---------------------------------------------------------------------------
# Log storage helpers (shared by source, publisher fixture, and control API)
# ---------------------------------------------------------------------------
def stream_dir(root: str, stream: str) -> str:
    return os.path.join(root, stream)


def stream_exists(root: str, stream: str) -> bool:
    return os.path.exists(os.path.join(stream_dir(root, stream), LOG_FILE))


def list_streams(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root) if os.path.exists(os.path.join(root, d, LOG_FILE))
    )


HWM_FILE = "hwm"  # high-water mark: survives retention expiring every record


from contextlib import contextmanager


@contextmanager
def _stream_lock(root: str, stream: str):
    """Per-stream advisory file lock serializing publish vs retention.

    Without it, enforce_retention's read-rewrite-replace could silently
    destroy a message appended between its read and its replace.
    """
    import fcntl

    os.makedirs(stream_dir(root, stream), exist_ok=True)
    lock_path = os.path.join(stream_dir(root, stream), ".lock")
    with open(lock_path, "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)


def _read_hwm(root: str, stream: str) -> int:
    path = os.path.join(stream_dir(root, stream), HWM_FILE)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return int(f.read().strip() or 0)
    return 0


def _write_hwm(root: str, stream: str, value: int) -> None:
    path = os.path.join(stream_dir(root, stream), HWM_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(value))
    os.replace(tmp, path)


class EventLogWriter:
    """Test publisher analog of ampq_publisher.py:50-67: appends messages to
    a stream's log, assigning broker attributes (offset, timestamp).

    Ordinals are 1-based, matching the documented contract: the first
    message in a stream has ordinal 1, so an exclusive seek from ordinal 0
    replays from the beginning (README.md:168-170,200-202). The high-water
    mark file keeps ordinals monotonic even when retention expires every
    retained record (a broker never reuses offsets).
    """

    def __init__(self, root: str, stream: str):
        self.root = root
        self.stream = stream
        os.makedirs(stream_dir(root, stream), exist_ok=True)
        self.path = os.path.join(stream_dir(root, stream), LOG_FILE)

    def publish(self, body: str | bytes, timestamp_ms: int | None = None) -> int:
        """Append one message; returns its assigned offset (ordinal)."""
        if isinstance(body, bytes):
            body = body.decode("utf-8")
        if timestamp_ms is None:
            import time

            timestamp_ms = int(time.time() * 1000)
        with _stream_lock(self.root, self.stream):
            fd = os.open(self.path, os.O_RDWR | os.O_APPEND | os.O_CREAT, 0o666)
            try:
                # A publisher that died mid-append left bytes after the last
                # newline: drop them, or they would prefix this record.
                size = os.fstat(fd).st_size
                if size and os.pread(fd, 1, size - 1) != b"\n":
                    os.ftruncate(fd, os.pread(fd, size, 0).rfind(b"\n") + 1)
                offset = _last_offset(self.root, self.stream) + 1
                rec = {"offset": offset, "timestamp": timestamp_ms, "value": body}
                os.write(fd, (json.dumps(rec) + "\n").encode("utf-8"))
            finally:
                os.close(fd)
        return offset


ARROW_BATCH_ROWS = 10_000


def _read_log(root: str, stream: str, start_exclusive: int, end_inclusive: int):
    """Yield pyarrow RecordBatches of (key, value, offset, timestamp) for
    offsets in (start_exclusive, end_inclusive].

    Arrow batches cross the worker boundary zero-copy — ~an order of
    magnitude faster than row-at-a-time tuple yields for high-volume
    replay (the Python Data Source API accepts either).
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pajson

    path = os.path.join(stream_dir(root, stream), LOG_FILE)
    if not os.path.exists(path):
        return
    with open(path, "rb") as f:
        data = f.read()
    # Bytes after the last newline are a record still being written.
    # Retention that expires every record leaves a 0-byte log, which
    # pyarrow refuses to parse ("Empty JSON file"): it holds no rows.
    end = data.rfind(b"\n") + 1
    if end == 0:
        return

    # C++-side JSONL parse (~10× a Python json.loads loop), then a
    # vectorized offset-range filter — the whole read never touches
    # Python-object rows.
    tbl = pajson.read_json(
        pa.BufferReader(pa.py_buffer(data).slice(0, end)),
        parse_options=pajson.ParseOptions(
            explicit_schema=pa.schema(
                [("offset", pa.int64()), ("timestamp", pa.int64()), ("value", pa.string())]
            ),
            unexpected_field_behavior="ignore",
        ),
    )
    offsets = tbl["offset"]
    keep = pc.and_(pc.greater(offsets, start_exclusive), pc.less_equal(offsets, end_inclusive))
    tbl = tbl.filter(keep)
    if tbl.num_rows == 0:
        return
    out = pa.table(
        {
            "key": pa.array([stream] * tbl.num_rows, type=pa.string()),
            "value": tbl["value"].cast(pa.binary()),
            "offset": tbl["offset"],
            "timestamp": pc.multiply(tbl["timestamp"], 1000).cast(pa.timestamp("us")),
        }
    )
    yield from out.to_batches(max_chunksize=ARROW_BATCH_ROWS)


def _last_offset(root: str, stream: str) -> int:
    """Highest assigned offset, or 0 for an empty stream (ordinals are
    1-based). The high-water mark file dominates when retention emptied
    the log — assigned ordinals are never reused.

    This runs DRIVER-SIDE on every micro-batch plan (latestOffset), so it
    must not scale with log length: read a tail window and parse only the
    last complete line, growing the window in the rare case a single
    record exceeds it. Bytes after the last newline are a record still
    being written (or torn by a dead publisher), not yet part of the log."""
    last = 0
    path = os.path.join(stream_dir(root, stream), LOG_FILE)
    if os.path.exists(path):
        size = os.path.getsize(path)
        window = 8192
        with open(path, "rb") as f:
            while True:
                f.seek(max(0, size - window))
                chunk = f.read()
                chunk = chunk[: chunk.rfind(b"\n") + 1]
                lines = [ln for ln in chunk.split(b"\n") if ln.strip()]
                # the first line of a mid-file window may be a fragment;
                # with >= 2 lines (or a full-file window) the last is whole
                if lines and (len(lines) >= 2 or window >= size):
                    last = json.loads(lines[-1])["offset"]
                    break
                if window >= size:
                    break
                window *= 8
    return max(last, _read_hwm(root, stream))


# Each seek option, in the reference's check order, with its message for a
# value that does not parse (app/app.py:230-266).
SEEK_OPTIONS = {
    "startingOrdinal": "stream_from_ordinal must be an integer",
    "startingTimestampMs": "stream_from_timestamp must be an integer",
    "startingDatetime": "Unable to parse stream_from_datetime value",
}


def seek_position(options) -> tuple[str, int | None]:
    """The one parser of a seek (app/app.py:222-278): at most one
    ``stream_from_*`` option; the default is LATEST (OffsetType.NEXT,
    app/app.py:226-228). Returns ``("latest", None)``, ``("ordinal", n)``
    or ``("timestamp", ms)``. ``options`` is Spark's case-insensitive map
    or any mapping keyed by the option names above. A bad seek raises
    ValueError with the reference's exact message; mutual exclusion is
    checked first, so it wins over a bad value (app/app.py:269-273).
    """
    given = [k for k in SEEK_OPTIONS if options.get(k) is not None]
    if len(given) > 1:
        raise ValueError("Cannot provide more than one 'stream_from_' variable")
    if not given:
        return ("latest", None)
    raw = options.get(given[0])
    try:
        if given[0] == "startingOrdinal":
            return ("ordinal", int(raw))
        if given[0] == "startingTimestampMs":
            return ("timestamp", int(raw))
        dt = datetime.fromisoformat(str(raw))
    except ValueError:
        raise ValueError(SEEK_OPTIONS[given[0]]) from None
    if dt.tzinfo is None:
        # tz-less strings are UTC (README.md:211-215; fixes the
        # process-local-tz bug at app/app.py:238)
        dt = dt.replace(tzinfo=timezone.utc)
    return ("timestamp", int(dt.timestamp() * 1000))


def _seek_start(root: str, stream: str, options) -> int:
    """Resolve the replay options to an exclusive start offset: ordinal
    seeks are exclusive; timestamp/datetime seeks deliver events with
    broker timestamp strictly greater."""
    kind, value = seek_position(options)
    if kind == "latest":
        return _last_offset(root, stream)
    if kind == "ordinal":
        # Past the head attaches at the head, so the start never lies
        # beyond the engine's first latestOffset().
        return min(value, _last_offset(root, stream))
    # Find the last offset at-or-before the cutoff (ms) → exclusive start.
    start = 0
    path = os.path.join(stream_dir(root, stream), LOG_FILE)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.endswith("\n"):
                    break  # a record still being written
                if not line.strip():
                    continue
                rec = json.loads(line)
                if rec["timestamp"] <= value:
                    start = rec["offset"]
                else:
                    break
    return start


# ---------------------------------------------------------------------------
# DataSource implementation
# ---------------------------------------------------------------------------
@dataclass
class StreamSlice(InputPartition):
    stream: str
    start_exclusive: int  # deliver offsets strictly greater
    end_inclusive: int


class EventStreamBatchReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["path"]
        self.options = options

    def partitions(self):
        streams = (
            [self.options["stream"]]
            if self.options.get("stream")
            else list_streams(self.root)
        )
        full_scan = seek_position(self.options)[0] == "latest"
        out = []
        for s in streams:
            # batch default: full scan (ordinals are 1-based)
            start = 0 if full_scan else _seek_start(self.root, s, self.options)
            out.append(StreamSlice(s, start, _last_offset(self.root, s)))
        return out

    def read(self, partition: StreamSlice):
        yield from _read_log(
            self.root, partition.stream, partition.start_exclusive, partition.end_inclusive
        )


class EventStreamStreamReader(DataSourceStreamReader):
    """Micro-batch reader over one stream (single partition → total order).

    Stateless: the engine's offset log holds each batch's range, and it
    plans no next batch until foreachBatch returns, so the sink's blocking
    socket write is the backpressure (SURVEY §2.9). Commits are the base
    class's no-op: the log's retention is independent (README.md:222-233).
    """

    def __init__(self, options):
        self.root = options["path"]
        self.stream = options.get("stream")
        if not self.stream:
            raise ValueError("option 'stream' is required for streaming reads")
        if not stream_exists(self.root, self.stream):
            # WS close 1013 analog (app/app.py:311-318)
            raise ValueError(f"EventStream backing stream does not exist: {self.stream}")
        self.options = options

    def initialOffset(self) -> dict:
        return {"offset": _seek_start(self.root, self.stream, self.options)}

    def latestOffset(self) -> dict:
        return {"offset": _last_offset(self.root, self.stream)}

    def partitions(self, start: dict, end: dict):
        return [StreamSlice(self.stream, start["offset"], end["offset"])]

    def read(self, partition: StreamSlice):
        yield from _read_log(
            self.root, partition.stream, partition.start_exclusive, partition.end_inclusive
        )


class EventStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "eventstream"

    def schema(self) -> StructType:
        return ENVELOPE

    def reader(self, schema: StructType) -> DataSourceReader:
        return EventStreamBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return EventStreamStreamReader(self.options)


def enforce_retention(
    root: str,
    stream: str,
    max_age_ms: int | None = None,
    max_messages: int | None = None,
    now_ms: int | None = None,
) -> int:
    """Expire old log entries by age and/or count — the broker's
    age+size-bounded retention (README.md:222-237). Returns the number of
    expired messages. Replay requests older than what remains silently
    start at the first retained event (Q6 semantics, already handled by
    _seek_start).
    """
    path = os.path.join(stream_dir(root, stream), LOG_FILE)
    if not os.path.exists(path):
        return 0
    if now_ms is None:
        import time

        now_ms = int(time.time() * 1000)
    # Locked against concurrent publish(): the read-rewrite-replace below
    # would otherwise destroy a message appended mid-pass.
    with _stream_lock(root, stream):
        with open(path, encoding="utf-8") as f:
            # an unterminated last line is a dead publisher's torn record
            recs = [json.loads(line) for line in f if line.strip() and line.endswith("\n")]
        keep = recs
        if max_age_ms is not None:
            keep = [r for r in keep if now_ms - r["timestamp"] <= max_age_ms]
        if max_messages is not None and len(keep) > max_messages:
            keep = keep[-max_messages:]
        expired = len(recs) - len(keep)
        if expired:
            # Persist the high-water mark BEFORE rewriting: assigned
            # ordinals must never be reused even if every record expires
            # (a checkpointed consumer at offset N would otherwise silently
            # skip all messages re-assigned 1..N).
            if recs:
                _write_hwm(root, stream, recs[-1]["offset"])
            tmp = path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                for r in keep:
                    f.write(json.dumps(r) + "\n")
            os.replace(tmp, path)
    return expired

