"""Log retention enforcement and the health endpoint."""

from __future__ import annotations

from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
    EventLogWriter,
    EventStreamDataSource,
    enforce_retention,
)

BASE_TS = 1_700_000_000_000  # 2023-11-14


def test_retention_by_age_and_count(spark, tmp_path):
    root = str(tmp_path / "log")
    w = EventLogWriter(root, "s")
    for i in range(10):
        w.publish("m%d" % i, BASE_TS + i * 1000)

    # age: drop everything older than 5s before the last message
    expired = enforce_retention(
        root, "s", max_age_ms=5000, now_ms=BASE_TS + 9000
    )
    assert expired == 4  # ordinals 1-4 (ts +0..+3s) are older than 5s
    spark.dataSource.register(EventStreamDataSource)
    df = spark.read.format("eventstream").option("path", root).option("stream", "s").load()
    assert sorted(r["offset"] for r in df.collect()) == [5, 6, 7, 8, 9, 10]

    # count: keep the newest 3
    assert enforce_retention(root, "s", max_messages=3) == 3
    df = spark.read.format("eventstream").option("path", root).option("stream", "s").load()
    assert sorted(r["offset"] for r in df.collect()) == [8, 9, 10]

    # replay older than retention → silently starts at first retained (Q6)
    df = (
        spark.read.format("eventstream")
        .option("path", root)
        .option("stream", "s")
        .option("startingOrdinal", 2)
        .load()
    )
    assert sorted(r["offset"] for r in df.collect()) == [8, 9, 10]


def test_retention_never_reuses_ordinals(spark, tmp_path):
    """Expiring EVERY record must not reset the ordinal counter — a
    checkpointed consumer at offset N would silently skip re-assigned
    ordinals 1..N, and replay clients would see duplicate ordinals."""
    root = str(tmp_path / "log")
    w = EventLogWriter(root, "s")
    for i in range(5):
        w.publish("m%d" % i, BASE_TS + i * 1000)
    expired = enforce_retention(root, "s", max_age_ms=1, now_ms=BASE_TS + 10_000_000)
    assert expired == 5  # log is now empty
    assert w.publish("fresh", BASE_TS + 10_000_000) == 6  # NOT 1


def test_stream_emptied_by_retention_reads_as_no_rows(spark, tmp_path):
    """Expiring every record leaves a 0-byte log: reads of it return no
    rows instead of failing, and a replay from 0 then sees only what was
    published after."""
    root = str(tmp_path / "log")
    w = EventLogWriter(root, "s")
    for i in range(5):
        w.publish("m%d" % i, BASE_TS + i * 1000)
    assert enforce_retention(root, "s", max_age_ms=1, now_ms=BASE_TS + 10_000_000) == 5
    spark.dataSource.register(EventStreamDataSource)

    def read(**seek):
        return (
            spark.read.format("eventstream")
            .options(path=root, stream="s", **seek)
            .load()
        )

    assert read().count() == 0
    assert read(startingOrdinal=0).count() == 0
    w.publish("fresh", BASE_TS + 10_000_000)
    assert [r["offset"] for r in read(startingOrdinal=0).collect()] == [6]


def test_health_endpoint(spark, tmp_path):
    from squonk2_fastapi_ws_event_stream_spark.sources.registry import Registry
    from squonk2_fastapi_ws_event_stream_spark.streaming.api import create_app
    from squonk2_fastapi_ws_event_stream_spark.streaming.manager import StreamManager

    registry = Registry(str(tmp_path / "es.db"))
    manager = StreamManager(spark, str(tmp_path / "log"), str(tmp_path / "ckpt"))
    app = create_app(spark, registry, manager)
    app.testing = True
    r = app.test_client().get("/event-stream/health/")
    assert r.status_code == 200
    body = r.get_json()
    assert body["spark"] is True and body["consumers"] == {}
