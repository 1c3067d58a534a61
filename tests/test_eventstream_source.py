"""Custom "eventstream" DataSource: batch + streaming reads, replay
semantics, per-stream ordering (FIXTURES.md §A1/§A5)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
    LOG_FILE,
    EventLogWriter,
    EventStreamBatchReader,
    EventStreamDataSource,
    EventStreamStreamReader,
    _last_offset,
    _read_log,
    _seek_start,
    list_streams,
    stream_exists,
)

BASE_TS = 1_700_000_000_000


@pytest.fixture()
def log_root(tmp_path, spark):
    root = str(tmp_path / "log")
    w = EventLogWriter(root, "charges")
    for i in range(10):
        w.publish('{"message_type": "t", "message_body": {"sqn": %d}}' % i,
                  timestamp_ms=BASE_TS + i * 1000)
    w2 = EventLogWriter(root, "other")
    w2.publish("accountserver.MerchantCharge|sqn: 0", timestamp_ms=BASE_TS)
    spark.dataSource.register(EventStreamDataSource)
    return root


def test_log_writer_assigns_monotonic_offsets(log_root):
    assert stream_exists(log_root, "charges")
    assert list_streams(log_root) == ["charges", "other"]


def test_batch_read_all_streams(spark, log_root):
    df = spark.read.format("eventstream").option("path", log_root).load()
    assert df.columns == ["key", "value", "offset", "timestamp"]
    assert df.count() == 11
    # per-stream offsets are dense 0..n
    per = {r["key"]: r["n"] for r in df.groupBy("key").agg(F.count("*").alias("n")).collect()}
    assert per == {"charges": 10, "other": 1}


def test_batch_read_single_stream_with_ordinal_seek(spark, log_root):
    df = (
        spark.read.format("eventstream")
        .option("path", log_root)
        .option("stream", "charges")
        .option("startingOrdinal", 7)
        .load()
    )
    # exclusive seek: ordinal 7 → first delivered is 8 (README.md:196-198)
    offs = sorted(r["offset"] for r in df.collect())
    assert offs == [8, 9, 10]


def test_batch_read_ordinal_zero_honored(spark, log_root):
    # explicit 0 replays from the first message, which has ordinal 1
    # (README.md:200-202; fixes the app/app.py:245 falsy-zero bug)
    df = (
        spark.read.format("eventstream")
        .option("path", log_root)
        .option("stream", "charges")
        .option("startingOrdinal", 0)
        .load()
    )
    assert sorted(r["offset"] for r in df.collect()) == list(range(1, 11))


def test_batch_read_timestamp_seek(spark, log_root):
    df = (
        spark.read.format("eventstream")
        .option("path", log_root)
        .option("stream", "charges")
        .option("startingTimestampMs", BASE_TS + 4500)
        .load()
    )
    # ordinal n has broker ts BASE_TS+(n-1)*1000; cutoff +4.5s → 6..10
    assert sorted(r["offset"] for r in df.collect()) == [6, 7, 8, 9, 10]


def test_batch_read_datetime_seek_utc(spark, log_root):
    # BASE_TS = 2023-11-14T22:13:20Z; +5s cutoff → ordinal 6 (ts +5000 ms)
    # is the last at-or-before → deliver 7..10
    df = (
        spark.read.format("eventstream")
        .option("path", log_root)
        .option("stream", "charges")
        .option("startingDatetime", "2023-11-14T22:13:25")
        .load()
    )
    assert sorted(r["offset"] for r in df.collect()) == [7, 8, 9, 10]


def test_seek_past_retention_delivers_from_first_retained(spark, log_root):
    # position older than anything retained → full replay (README.md:226-233)
    df = (
        spark.read.format("eventstream")
        .option("path", log_root)
        .option("stream", "charges")
        .option("startingTimestampMs", BASE_TS - 10_000_000)
        .load()
    )
    assert df.count() == 10


def test_mutually_exclusive_seek_params(spark, log_root):
    with pytest.raises(Exception, match="more than one 'stream_from_'"):
        (
            spark.read.format("eventstream")
            .option("path", log_root)
            .option("stream", "charges")
            .option("startingOrdinal", 1)
            .option("startingTimestampMs", BASE_TS)
            .load()
            .collect()
        )


def test_streaming_read_available_now(spark, log_root, tmp_path):
    df = (
        spark.readStream.format("eventstream")
        .option("path", log_root)
        .option("stream", "charges")
        .option("startingOrdinal", 5)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("es_stream_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM es_stream_test ORDER BY offset").collect()
    assert [r["offset"] for r in rows] == [6, 7, 8, 9, 10]
    assert rows[0]["key"] == "charges"


def test_streaming_missing_stream_rejected(spark, log_root, tmp_path):
    # load() is lazy — the reader (and its existence check, the WS close
    # 1013 analog) is constructed when the query starts.
    df = (
        spark.readStream.format("eventstream")
        .option("path", log_root)
        .option("stream", "nope")
        .load()
    )
    with pytest.raises(Exception, match="does not exist"):
        q = (
            df.writeStream.format("memory")
            .queryName("es_missing_stream")
            .option("checkpointLocation", str(tmp_path / "ckpt_missing"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)


def test_last_offset_tail_read_edge_cases(tmp_path):
    """_last_offset reads only the log TAIL (driver-side planning must
    not scale with log length); the windowing must survive every line
    layout: empty log, one line, records longer than the initial window,
    and a fragment-leading mid-file window."""
    import json
    import os

    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
        EventLogWriter,
        _last_offset,
    )

    root = str(tmp_path / "log")
    w = EventLogWriter(root, "t")
    assert _last_offset(root, "t") == 0  # no file yet

    w.publish("x", 1_700_000_000_000)
    assert _last_offset(root, "t") == 1  # single short line

    # a single record far larger than the 8 KB initial window — the
    # window must grow until the line is whole
    w.publish("y" * 100_000, 1_700_000_000_001)
    assert _last_offset(root, "t") == 2

    # many short lines after the giant one (mid-file window starts with a
    # fragment of the giant record; the LAST line must still be parsed)
    for i in range(50):
        w.publish("z", 1_700_000_000_002 + i)
    assert _last_offset(root, "t") == 52

    # exhaustive layout sweep: logs of every length 1..40 with mixed line
    # sizes must always report the true last offset
    for n in (1, 2, 3, 7, 40):
        name = f"sweep{n}"
        w2 = EventLogWriter(root, name)
        for i in range(n):
            w2.publish("m" * (1 + (i * 37) % 300), 1_700_000_000_000 + i)
        assert _last_offset(root, name) == n, n


def _torn_log(root: str, stream: str, torn: str) -> None:
    """Three complete records, then `torn`: the bytes a publisher had
    written of a fourth record when it died (no newline)."""
    w = EventLogWriter(root, stream)
    for i in range(3):
        w.publish('{"n": %d}' % i, timestamp_ms=BASE_TS + i * 1000)
    with open(os.path.join(root, stream, LOG_FILE), "a", encoding="utf-8") as f:
        f.write(torn)


@pytest.mark.parametrize(
    "torn",
    ['{"offset": 4, "timestamp": 10', '{"offset": 4, "value": "' + "x" * 20_000],
    ids=["short", "longer-than-the-tail-window"],
)
def test_torn_tail_is_not_yet_written(spark, tmp_path, torn):
    """Readers treat the bytes after the last newline as a record still
    being written: the complete lines read as if the tail were absent."""
    root = str(tmp_path / "log")
    _torn_log(root, "t", torn)

    assert _last_offset(root, "t") == 3
    offs = [o for b in _read_log(root, "t", 0, 4) for o in b.column("offset").to_pylist()]
    assert offs == [1, 2, 3]
    assert _seek_start(root, "t", {"startingTimestampMs": BASE_TS + 1000}) == 2
    assert _seek_start(root, "t", {"startingTimestampMs": BASE_TS + 10**9}) == 3
    assert _seek_start(root, "t", {}) == 3

    spark.dataSource.register(EventStreamDataSource)
    df = spark.read.format("eventstream").option("path", root).option("stream", "t").load()
    assert [(r["offset"], bytes(r["value"])) for r in df.orderBy("offset").collect()] == [
        (i + 1, b'{"n": %d}' % i) for i in range(3)
    ]


def test_publish_after_a_torn_tail_assigns_the_next_ordinal(tmp_path):
    """A publisher that died mid-append leaves a torn line; the next
    publish drops it and appends the next ordinal as a whole line."""
    root = str(tmp_path / "log")
    _torn_log(root, "t", '{"offset": 4, "timestamp": 10')

    assert EventLogWriter(root, "t").publish("next", timestamp_ms=BASE_TS + 9000) == 4
    with open(os.path.join(root, "t", LOG_FILE), encoding="utf-8") as f:
        recs = [json.loads(line) for line in f]
    assert [r["offset"] for r in recs] == [1, 2, 3, 4]
    assert recs[-1] == {"offset": 4, "timestamp": BASE_TS + 9000, "value": "next"}
    assert _last_offset(root, "t") == 4


def test_a_seek_past_the_head_attaches_at_the_head(tmp_path):
    """The stream reader keeps no cursor, so its offsets must never go
    backwards: a seek past the head starts at the head, the first
    latestOffset(), and a batch read with the same seek holds no rows."""
    root = str(tmp_path / "log")
    w = EventLogWriter(root, "s")
    for i in range(10):
        w.publish('{"n": %d}' % i, timestamp_ms=BASE_TS + i * 1000)
    options = {"path": root, "stream": "s", "startingOrdinal": "1000"}

    reader = EventStreamStreamReader(options)
    start, end = reader.initialOffset()["offset"], reader.latestOffset()["offset"]
    assert start <= end == 10

    batch = EventStreamBatchReader(options)
    assert sum(b.num_rows for p in batch.partitions() for b in batch.read(p)) == 0
