"""Control-plane API parity: C1-C4 shapes and error codes (SURVEY §2.8),
driven through the Flask test client with a live StreamManager, plus the
manager's consumer lifecycle. The consume path (C5) is WebSocket only and
is tested in test_websocket.py."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import LOG_FILE, EventLogWriter
from squonk2_fastapi_ws_event_stream_spark.sources.registry import Registry
from squonk2_fastapi_ws_event_stream_spark.streaming.api import create_app
from squonk2_fastapi_ws_event_stream_spark.streaming.manager import StreamManager

BASE_TS = 1_700_000_000_000


class _Sink:
    """A consumer's sink that drops what it is sent (no socket)."""

    def send(self, texts):
        pass

    def close(self, code, reason=""):
        self.closed = code


class _RecordingSink:
    """A consumer's sink that records every text and close it is sent."""

    def __init__(self):
        self.events = []
        self.closed = threading.Event()

    def send(self, texts):
        self.events.extend(texts)

    def close(self, code, reason=""):
        self.events.append(("close", code))
        self.closed.set()


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


def test_create_refuses_a_routing_key_that_is_not_one_path_component(stack):
    # A routing key names a directory under the log root: a traversal, a
    # nested path or a non-string must not reach the registry.
    client, registry, *_ = stack
    for key in ("../victim", "a/b", 5, ["x"]):
        r = client.post("/event-stream/", json={"routing_key": key})
        assert r.status_code == 422, key
    assert client.post("/event-stream/", json=["x"]).status_code == 422
    assert registry.list_all() == []


def test_delete_unknown_id_404(stack):  # C4 404 path (app/app.py:688-694)
    client, *_ = stack
    r = client.delete("/event-stream/9999")
    assert r.status_code == 404


def test_stale_teardown_does_not_stop_replacement_consumer(stack, tmp_path):
    # A teardown path holding an old handle (a finished socket) must not
    # knock out a consumer that replaced it by name.
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
            sink=_Sink(),
            checkpoint=str(tmp_path / name),
            query=_FakeQuery(),
        )

    old, new = fake_handle("old"), fake_handle("new")
    manager._consumers["s"] = new

    manager.stop_consumer("s", old)
    assert old.query.stopped  # the stale handle itself is released
    assert old.ended and old.sink.closed == 1000  # and its session is closed
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
        handle = manager.start_consumer("charges", _Sink(), seek={"startingOrdinal": 0})
        assert os.path.isdir(handle.checkpoint)
        manager.stop_consumer("charges")
    manager.start_consumer("charges", _Sink(), seek={"startingOrdinal": 0})
    manager.stop_all()
    root = manager.checkpoint_root
    assert not os.path.isdir(root) or os.listdir(root) == []


def test_stop_does_not_wait_on_a_blocked_send(stack, spark):
    """A stop never waits on the socket: it closes the sink first, which
    fails a batch's send blocked on a client that stopped reading, so
    query.stop() returns and the query does not leak."""
    import threading

    class BlockingSink:
        def __init__(self):
            self.sending, self.closing = threading.Event(), threading.Event()

        def send(self, texts):
            self.sending.set()
            self.closing.wait()
            raise ConnectionError("the sink is closed")

        def close(self, code, reason=""):
            self.closing.set()

    _, _, manager, log_root = stack
    w = EventLogWriter(log_root, "charges")
    for i in range(5):
        w.publish('{"a": %d}' % i, BASE_TS + i)
    sink = BlockingSink()
    handle = manager.start_consumer("charges", sink, seek={"startingOrdinal": 0})
    assert sink.sending.wait(60)

    stopper = threading.Thread(target=manager.stop_consumer, args=("charges",), daemon=True)
    stopper.start()
    stopper.join(timeout=20)
    stuck = stopper.is_alive()
    sink.closing.set()  # a stop that waits on the send: release it to end the test
    stopper.join()
    assert not stuck, "stop_consumer waited on a blocked send"
    assert handle.query.id not in {q.id for q in spark.streams.active}


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


def test_consumer_counts_received_to_the_pill_and_sent_frames(stack):  # A1
    """`received` counts every message up to and including the POISON pill
    (app/app.py:424-426); `sent` counts the frames delivered
    (app/app.py:499-501). Dropped bodies are received but not sent, and
    nothing after the pill is either."""
    _, _, manager, log_root = stack
    w = EventLogWriter(log_root, "charges")
    bodies = [
        '{"a": 1}',
        '{"b": 2}',
        '{"broken": ',  # malformed JSON: dropped
        "",  # empty: skipped
        "accountserver.MerchantCharge|sqn: 5",
        "POISON",
        '{"after": 7}',
    ]
    for i, body in enumerate(bodies):
        w.publish(body, BASE_TS + i)
    sink = _RecordingSink()
    handle = manager.start_consumer("charges", sink, seek={"startingOrdinal": 0})
    assert sink.closed.wait(60)
    assert sink.events == [
        '{"a": 1, "ess_ordinal": 1, "ess_timestamp": %d}' % BASE_TS,
        '{"b": 2, "ess_ordinal": 2, "ess_timestamp": %d}' % (BASE_TS + 1),
        "accountserver.MerchantCharge|sqn: 5|ordinal: 5|timestamp: %d" % (BASE_TS + 4),
        ("close", 1000),
    ]
    assert handle.stats == {"received": 6, "sent": 3}


def test_live_consumer_survives_a_torn_log_tail(stack):
    """A record caught half-written by the query's planning is not yet
    part of the log: once its line is complete it is delivered byte-exact,
    and the query never fails (the session would close 1011)."""
    _, _, manager, log_root = stack
    w = EventLogWriter(log_root, "charges")
    w.publish('{"a": 1}', BASE_TS)
    sink = _RecordingSink()
    handle = manager.start_consumer("charges", sink, seek={"startingOrdinal": 0})
    deadline = time.monotonic() + 60
    while not sink.events and time.monotonic() < deadline:
        time.sleep(0.1)

    line = json.dumps({"offset": 2, "timestamp": BASE_TS + 1, "value": '{"b": 2}'}) + "\n"
    with open(os.path.join(log_root, "charges", LOG_FILE), "a", encoding="utf-8") as f:
        f.write(line[:20])
        f.flush()
        time.sleep(1.5)  # three 500 ms triggers plan against the torn tail
        f.write(line[20:])
    w.publish("POISON", BASE_TS + 2)

    assert sink.closed.wait(60), handle.query.exception()
    assert sink.events == [
        '{"a": 1, "ess_ordinal": 1, "ess_timestamp": %d}' % BASE_TS,
        '{"b": 2, "ess_ordinal": 2, "ess_timestamp": %d}' % (BASE_TS + 1),
        ("close", 1000),
    ]
    assert handle.query.exception() is None
