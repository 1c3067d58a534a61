"""Control-plane API parity: C1-C4 shapes and error codes (SURVEY §2.8),
driven through the Flask test client with a live StreamManager, plus the
manager's consumer lifecycle. The consume path (C5) is WebSocket only and
is tested in test_websocket.py."""

from __future__ import annotations

import os

import pytest

from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import EventLogWriter
from squonk2_fastapi_ws_event_stream_spark.sources.registry import Registry
from squonk2_fastapi_ws_event_stream_spark.streaming.api import create_app
from squonk2_fastapi_ws_event_stream_spark.streaming.manager import StreamManager

BASE_TS = 1_700_000_000_000


@pytest.fixture()
def stack(spark, tmp_path):
    log_root = str(tmp_path / "log")
    registry = Registry(str(tmp_path / "es.db"))
    manager = StreamManager(spark, log_root, str(tmp_path / "ckpt"))
    app = create_app(spark, registry, manager)
    app.testing = True
    yield app.test_client(), registry, manager, log_root
    manager.stop_all()


def test_version_endpoint(stack):  # C1
    client, *_ = stack
    r = client.get("/event-stream/version/")
    assert r.status_code == 200
    body = r.get_json()
    assert set(body) == {"protocol", "name", "version"}


def test_create_list_delete_flow(stack):  # C2, C3, C4
    client, registry, manager, log_root = stack
    r = client.post("/event-stream/", json={"routing_key": "charges"})
    assert r.status_code == 201
    created = r.get_json()
    assert set(created) == {"id", "location"}
    assert "/event-stream/" in created["location"]

    r = client.get("/event-stream/")
    streams = r.get_json()["event_streams"]
    assert len(streams) == 1
    assert streams[0]["routing_key"] == "charges"
    assert streams[0]["id"] == created["id"]

    r = client.delete(f"/event-stream/{created['id']}")
    assert r.status_code == 204
    assert client.get("/event-stream/").get_json()["event_streams"] == []


def test_create_requires_routing_key(stack):
    client, *_ = stack
    assert client.post("/event-stream/", json={}).status_code == 422


def test_delete_unknown_id_404(stack):  # C4 404 path (app/app.py:688-694)
    client, *_ = stack
    r = client.delete("/event-stream/9999")
    assert r.status_code == 404


def test_stale_teardown_does_not_stop_replacement_consumer(stack, tmp_path):
    # A teardown path holding an old handle (a finished socket) must not
    # knock out a consumer that replaced it by name.
    import queue

    from squonk2_fastapi_ws_event_stream_spark.streaming.manager import ConsumerHandle

    _, _, manager, _ = stack

    class _FakeQuery:
        def __init__(self):
            self.stopped = False
            self.isActive = True

        def stop(self):
            self.stopped = True
            self.isActive = False

    def fake_handle(name):
        return ConsumerHandle(
            stream="s",
            hub=queue.Queue(),
            checkpoint=str(tmp_path / name),
            query=_FakeQuery(),
        )

    old, new = fake_handle("old"), fake_handle("new")
    manager._consumers["s"] = new

    manager.stop_consumer("s", old)
    assert old.query.stopped  # the stale handle itself is released
    assert old.hub.get_nowait() is None  # and its socket loop told to end
    assert not new.query.stopped  # the replacement keeps running
    assert manager._consumers["s"] is new

    manager.stop_consumer("s", new)
    assert new.query.stopped
    assert "s" not in manager._consumers

    # without a handle: stop whatever is registered
    newest = fake_handle("newest")
    manager._consumers["s"] = newest
    manager.stop_consumer("s")
    assert newest.query.stopped
    assert "s" not in manager._consumers


def test_stopped_consumers_leave_no_checkpoint_state(stack):
    """Every start gets a fresh checkpoint directory and every stop removes
    it, so the checkpoint root does not grow with the number of starts."""
    _, _, manager, log_root = stack
    EventLogWriter(log_root, "charges").publish('{"a": 1}', BASE_TS)
    for _ in range(3):
        handle = manager.start_consumer("charges", starting_ordinal=0)
        assert os.path.isdir(handle.checkpoint)
        manager.stop_consumer("charges")
    manager.start_consumer("charges", starting_ordinal=0)
    manager.stop_all()
    root = manager.checkpoint_root
    assert not os.path.isdir(root) or os.listdir(root) == []


def test_health_probe_runs_no_spark_job(stack, spark):
    """The probe checks the JVM, it does not run a job: perfbench and
    liveness probes poll it while consumers are starting."""
    client, _, manager, _ = stack
    sc = spark.sparkContext
    group = "health-probe-test"
    sc.setJobGroup(group, "health probe")  # thread-local: the test client's thread
    try:
        r = client.get("/event-stream/health/")
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(3).count()  # the probe can see a job when one runs
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r.status_code == 200
    assert r.get_json() == {"spark": True, "consumers": {}}
    assert jobs == []
