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
  event) silently starts at the first retained event (README.md:226-233).
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

    def next_offset(self) -> int:
        return _last_offset(self.root, self.stream) + 1

    def publish(self, body: str | bytes, timestamp_ms: int | None = None) -> int:
        """Append one message; returns its assigned offset (ordinal)."""
        if isinstance(body, bytes):
            body = body.decode("utf-8")
        if timestamp_ms is None:
            import time

            timestamp_ms = int(time.time() * 1000)
        with _stream_lock(self.root, self.stream):
            offset = self.next_offset()
            rec = {"offset": offset, "timestamp": timestamp_ms, "value": body}
            with open(self.path, "a", encoding="utf-8") as f:
                f.write(json.dumps(rec) + "\n")
        return offset


ARROW_BATCH_ROWS = 10_000


def _read_log(root: str, stream: str, start_exclusive: int, end_inclusive: int | None):
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

    # C++-side JSONL parse (~10× a Python json.loads loop), then a
    # vectorized offset-range filter — the whole read never touches
    # Python-object rows.
    tbl = pajson.read_json(
        path,
        parse_options=pajson.ParseOptions(
            explicit_schema=pa.schema(
                [("offset", pa.int64()), ("timestamp", pa.int64()), ("value", pa.string())]
            ),
            unexpected_field_behavior="ignore",
        ),
    )
    mask = pc.greater(tbl["offset"], start_exclusive)
    if end_inclusive is not None:
        mask = pc.and_(mask, pc.less_equal(tbl["offset"], end_inclusive))
    tbl = tbl.filter(mask)
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
    last complete line (appends are line-atomic), growing the window in
    the rare case a single record exceeds it."""
    last = 0
    path = os.path.join(stream_dir(root, stream), LOG_FILE)
    if os.path.exists(path):
        size = os.path.getsize(path)
        window = 8192
        with open(path, "rb") as f:
            while True:
                f.seek(max(0, size - window))
                chunk = f.read()
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


def _opt(options: dict, name: str):
    """Option lookup tolerant of Spark's lowercased option keys."""
    if name in options:
        return options[name]
    return options.get(name.lower())


SEEK_OPTIONS = ("startingOrdinal", "startingTimestampMs", "startingDatetime")


def _seek_start(root: str, stream: str, options: dict) -> int:
    """Resolve the replay options to an exclusive start offset.

    Mirrors app/app.py:222-278: at most one stream_from_* param; ordinal
    seeks are exclusive; timestamp/datetime seeks deliver events with
    broker timestamp strictly greater; default is LATEST (OffsetType.NEXT,
    app/app.py:226-228).
    """
    given = [k for k in SEEK_OPTIONS if _opt(options, k) is not None]
    if len(given) > 1:
        # WS close 1002 analog (app/app.py:269-278)
        raise ValueError(
            "Cannot provide more than one 'stream_from_' variable: " + ", ".join(given)
        )
    if not given:
        return _last_offset(root, stream)
    if given[0] == "startingOrdinal":
        return int(_opt(options, "startingOrdinal"))
    if given[0] == "startingTimestampMs":
        cutoff_ms = int(_opt(options, "startingTimestampMs"))
    else:
        dt = datetime.fromisoformat(str(_opt(options, "startingDatetime")))
        if dt.tzinfo is None:
            # tz-less strings are UTC (README.md:211-215; fixes the
            # process-local-tz bug at app/app.py:238)
            dt = dt.replace(tzinfo=timezone.utc)
        cutoff_ms = int(dt.timestamp() * 1000)
    # Find the last offset at-or-before the cutoff → exclusive start.
    start = 0
    path = os.path.join(stream_dir(root, stream), LOG_FILE)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                rec = json.loads(line)
                if rec["timestamp"] <= cutoff_ms:
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
    def __init__(self, options: dict):
        self.root = options["path"]
        self.options = options

    def partitions(self):
        streams = (
            [self.options["stream"]]
            if self.options.get("stream")
            else list_streams(self.root)
        )
        out = []
        for s in streams:
            start = (
                _seek_start(self.root, s, self.options)
                if any(_opt(self.options, k) is not None for k in SEEK_OPTIONS)
                else 0  # batch default: full scan (ordinals are 1-based)
            )
            out.append(StreamSlice(s, start, _last_offset(self.root, s)))
        return out

    def read(self, partition: StreamSlice):
        yield from _read_log(
            self.root, partition.stream, partition.start_exclusive, partition.end_inclusive
        )




class EventStreamStreamReader(DataSourceStreamReader):
    """Micro-batch reader over one stream (single partition → total order)."""

    def __init__(self, options: dict):
        self.root = options["path"]
        self.stream = options.get("stream")
        if not self.stream:
            raise ValueError("option 'stream' is required for streaming reads")
        if not stream_exists(self.root, self.stream):
            # WS close 1013 analog (app/app.py:311-318)
            raise ValueError(f"EventStream backing stream does not exist: {self.stream}")
        self.options = options
        # maxOffsetsPerTrigger-style backpressure (SURVEY §2.9).
        # Note: availableNow snapshots ONE latestOffset() as the run's
        # target, so a capped availableNow run drains at most one cap of
        # messages per run; a recurring trigger drains the backlog one cap
        # per trigger. See latestOffset() for the restart contract.
        self.max_per_batch = int(_opt(options, "maxOffsetsPerTrigger") or 0) or None
        self._cursor: int | None = None  # last planned end offset

    def initialOffset(self) -> dict:
        start = _seek_start(self.root, self.stream, self.options)
        self._cursor = start
        return {"offset": start}

    def latestOffset(self) -> dict:
        latest = _last_offset(self.root, self.stream)
        if self.max_per_batch is not None:
            # Cap from the planner's position. Fresh run: the seek start IS
            # the position (the engine calls latestOffset before
            # initialOffset, so the cursor is still unset). Restart: the
            # engine replays the last committed range via partitions()
            # BEFORE calling latestOffset, which syncs the cursor to the
            # committed offset — the cap never lands below it. If a
            # recovery path ever skips that replay, the seek-start base
            # could undershoot the committed start; partitions() clamps end
            # up to start, so the worst case is one empty batch (same
            # offset re-committed), never a regressed commit or
            # re-delivery.
            base = (
                self._cursor
                if self._cursor is not None
                else _seek_start(self.root, self.stream, self.options)
            )
            latest = min(latest, base + self.max_per_batch)
        self._cursor = latest
        return {"offset": latest}

    def partitions(self, start: dict, end: dict):
        # Never plan a regressed batch: the checkpoint's `start` is the
        # committed truth, so clamp end up to it (a stale cap could
        # otherwise hand us end < start).
        lo, hi = start["offset"], max(start["offset"], end["offset"])
        # Keep the rate-limit cursor in sync with the planner's actual
        # progress (covers checkpoint-restart replay, where `start` comes
        # from the offset log rather than our latestOffset()).
        if self._cursor is None or hi > self._cursor:
            self._cursor = hi
        return [StreamSlice(self.stream, lo, hi)]

    def read(self, partition: StreamSlice):
        yield from _read_log(
            self.root, partition.stream, partition.start_exclusive, partition.end_inclusive
        )

    def commit(self, end: dict) -> None:
        # Offsets live in the checkpoint; the log is retained independently
        # (age/size-bounded like the broker's retention, README.md:222-233).
        pass


class EventStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "eventstream"

    def schema(self) -> StructType:
        return ENVELOPE

    def reader(self, schema: StructType) -> DataSourceReader:
        return EventStreamBatchReader(dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return EventStreamStreamReader(dict(self.options))


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
    _seek_start). Archive first (streaming/archive.py) if history matters.
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
            recs = [json.loads(line) for line in f if line.strip()]
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


def register(spark) -> None:
    spark.dataSource.register(EventStreamDataSource)
