"""Real WebSocket transport (C5/K1): RFC 6455 handshake, framing, replay
semantics, and close-code parity with the reference
(/root/reference/app/app.py:193-373, send at :496-508).

These run the full stack end-to-end: stdlib WS server → StreamManager →
Spark Structured Streaming relay → WS frames back to a stdlib client.
"""

from __future__ import annotations

import json
import struct
import threading
import time

import pytest

from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import EventLogWriter
from squonk2_fastapi_ws_event_stream_spark.sources.registry import Registry
from squonk2_fastapi_ws_event_stream_spark.streaming.manager import (
    ConsumerHandle,
    StreamManager,
)
from squonk2_fastapi_ws_event_stream_spark.streaming.websocket import (
    CLOSE_INTERNAL_ERROR,
    CLOSE_MESSAGE_TOO_BIG,
    CLOSE_NORMAL,
    CLOSE_PROTOCOL_ERROR,
    CLOSE_TRY_AGAIN_LATER,
    OP_CLOSE,
    OP_PONG,
    OP_TEXT,
    EventStreamWsServer,
    WsClient,
    accept_key,
    encode_frame,
    parse_close,
    read_frame,
)

BASE_TS = 1_700_000_000_000


@pytest.fixture()
def ws_stack(spark, tmp_path):
    log_root = str(tmp_path / "log")
    registry = Registry(str(tmp_path / "es.db"))
    manager = StreamManager(spark, log_root, str(tmp_path / "ckpt"))
    server = EventStreamWsServer(registry, manager).start_background()
    yield server, registry, manager, log_root
    server.stop()
    manager.stop_all()


class _FakeQuery:
    """A query that runs until it is stopped (no Spark)."""

    def __init__(self):
        self._stopped = threading.Event()

    def awaitTermination(self):
        self._stopped.wait()

    def stop(self):
        self._stopped.set()


@pytest.fixture()
def fake_stack(tmp_path):
    """The WS server over a fake registry and manager, no Spark: every uuid
    names stream "charges", whose consumer delivers only what a test sends
    to its sink. Yields the server, the started handles and the handles
    passed to each stop."""
    log_root = str(tmp_path / "log")
    EventLogWriter(log_root, "charges").publish('{"a": 1}', BASE_TS)
    started, stopped = [], []

    class FakeRegistry:
        def get_by_uuid(self, es_uuid):
            return {"routing_key": "charges"}

    class FakeManager:
        def __init__(self):
            self.log_root = log_root

        def start_consumer(self, stream, sink, seek=None):
            handle = ConsumerHandle(
                stream=stream, sink=sink, checkpoint=str(tmp_path / "ckpt"), query=_FakeQuery()
            )
            started.append(handle)
            return handle

        def stop_consumer(self, stream, handle=None):
            stopped.append(handle)
            StreamManager.stop_consumer_handle(handle)

    server = EventStreamWsServer(FakeRegistry(), FakeManager()).start_background()
    yield server, started, stopped
    server.stop()


def _wait_for(predicate, seconds: float) -> bool:
    deadline = time.monotonic() + seconds
    while not predicate() and time.monotonic() < deadline:
        time.sleep(0.05)
    return predicate()


# -- pure protocol units ----------------------------------------------------
def test_accept_key_rfc_vector():
    # The worked example from RFC 6455 §1.3 (public spec).
    assert accept_key("dGhlIHNhbXBsZSBub25jZQ==") == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="


def test_frame_roundtrip_sizes():
    import io

    for n in (0, 1, 125, 126, 127, 65535, 65536, 70_000):
        payload = bytes(i % 251 for i in range(n))
        for mask in (False, True):
            buf = io.BytesIO(encode_frame(OP_TEXT, payload, mask=mask))
            opcode, got = read_frame(buf)
            assert opcode == OP_TEXT and got == payload, (n, mask)


# -- end-to-end -------------------------------------------------------------
def test_ws_consume_with_ordinal_replay(ws_stack):
    server, registry, manager, log_root = ws_stack
    w = EventLogWriter(log_root, "charges")
    for i in range(5):
        w.publish(
            '{"message_type": "t", "message_body": {"sqn": %d}}' % i,
            timestamp_ms=BASE_TS + i * 1000,
        )
    rec = registry.create("charges")
    c = WsClient(
        "127.0.0.1",
        server.port,
        # params other than stream_from_* are ignored, as in the reference
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=1&max_events=3&timeout_s=5",
    )
    msgs = []
    for _ in range(3):
        text, close = c.recv_text_or_close()
        assert close is None
        msgs.append(json.loads(text))
    c.close()
    while close is None:  # the server echoes the close after frames in flight
        _, close = c.recv_text_or_close()
    c.shutdown()
    # exclusive seek from 1 → ordinals 2,3,4; ordinal n carries the n-th
    # published message (sqn = n-1, broker ts = BASE_TS + (n-1)*1000)
    assert [m["ess_ordinal"] for m in msgs] == [2, 3, 4]
    assert all(
        m["ess_timestamp"] == BASE_TS + (m["ess_ordinal"] - 1) * 1000 for m in msgs
    )
    assert all(m["message_body"]["sqn"] == m["ess_ordinal"] - 1 for m in msgs)
    assert close[0] == CLOSE_NORMAL


def test_ws_unknown_uuid_closes_1000(ws_stack):
    server, *_ = ws_stack
    c = WsClient("127.0.0.1", server.port, "/event-stream/nonesuch")
    text, close = c.recv_text_or_close()
    c.shutdown()
    assert text is None
    # app/app.py:287-291 — reference text includes the uuid
    assert close == (CLOSE_NORMAL, "Connect for unknown EventStream nonesuch")


def test_ws_mutually_exclusive_params_close_1002(ws_stack):
    server, registry, manager, log_root = ws_stack
    EventLogWriter(log_root, "charges").publish('{"a": 1}', BASE_TS)
    rec = registry.create("charges")
    c = WsClient(
        "127.0.0.1",
        server.port,
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=1&stream_from_timestamp=5",
    )
    _, close = c.recv_text_or_close()
    c.shutdown()
    assert close == (
        CLOSE_PROTOCOL_ERROR,
        "Cannot provide more than one 'stream_from_' variable",
    )


def test_ws_missing_backing_stream_closes_1013(ws_stack):
    server, registry, *_ = ws_stack
    rec = registry.create("ghost")
    c = WsClient("127.0.0.1", server.port, f"/event-stream/{rec['uuid']}")
    _, close = c.recv_text_or_close()
    c.shutdown()
    # app/app.py:314-318 — reference text includes the uuid
    assert close == (CLOSE_TRY_AGAIN_LATER, f"EventStream {rec['uuid']} cannot be found")


def test_ws_ping_pong(ws_stack):
    server, registry, manager, log_root = ws_stack
    EventLogWriter(log_root, "charges").publish(
        '{"message_type": "t", "message_body": {}}', BASE_TS
    )
    rec = registry.create("charges")
    c = WsClient(
        "127.0.0.1",
        server.port,
        f"/event-stream/{rec['uuid']}",
    )
    c.ping(b"abc")
    pong = None
    frames = []
    for _ in range(4):
        opcode, payload = c.recv()
        frames.append(opcode)
        if opcode == OP_PONG:
            pong = payload
            break
        if opcode == OP_CLOSE:
            break
    c.shutdown()
    assert pong == b"abc", frames


def test_ws_poison_terminates_with_close(ws_stack):
    server, registry, manager, log_root = ws_stack
    w = EventLogWriter(log_root, "charges")
    w.publish('{"message_type": "t", "message_body": {"sqn": 0}}', BASE_TS)
    w.publish("POISON", BASE_TS + 1000)
    w.publish('{"never": "delivered"}', BASE_TS + 2000)
    rec = registry.create("charges")
    c = WsClient(
        "127.0.0.1",
        server.port,
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=0",
    )
    msgs, close = [], None
    while close is None:
        text, close = c.recv_text_or_close()
        if text is not None:
            msgs.append(json.loads(text))
    c.shutdown()
    assert [m["ess_ordinal"] for m in msgs] == [1]
    assert close[0] == CLOSE_NORMAL


def test_ws_failed_query_closes_1011(ws_stack):
    """A consumer whose query dies must not leave its socket open and
    silent: the server closes with 1011 and the query's error as reason."""
    import os
    import time

    server, registry, manager, log_root = ws_stack
    EventLogWriter(log_root, "charges").publish(
        '{"message_type": "t", "message_body": {}}', BASE_TS
    )
    rec = registry.create("charges")
    c = WsClient(
        "127.0.0.1",
        server.port,
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=0",
        timeout=60,
    )
    text, close = c.recv_text_or_close()
    assert text is not None and json.loads(text)["ess_ordinal"] == 1
    # fault injection: a line the source cannot parse kills the query
    with open(os.path.join(log_root, "charges", "log.jsonl"), "a") as f:
        f.write("not json\n")
    c.sock.settimeout(30)
    t0 = time.monotonic()
    while close is None:
        text, close = c.recv_text_or_close()
        assert text is None, text
    c.shutdown()
    assert time.monotonic() - t0 < 30
    code, reason = close
    assert code == CLOSE_INTERNAL_ERROR
    assert reason and len(reason.encode("utf-8")) <= 123


def test_stop_ends_a_session_whose_client_stopped_reading(ws_stack):
    """A stop must not leave a session hanging on a client that stopped
    reading but did not disconnect: the stop returns, and the session's
    handler thread, blocked writing ~25 MB the client never reads, ends."""
    server, registry, manager, log_root = ws_stack
    w = EventLogWriter(log_root, "charges")
    pad = "x" * 65_000
    for i in range(400):
        w.publish('{"message_type": "t", "message_body": {"pad": "%s"}}' % pad, BASE_TS + i)
    rec = registry.create("charges")
    before = set(threading.enumerate())
    c = WsClient(
        "127.0.0.1", server.port, f"/event-stream/{rec['uuid']}?stream_from_ordinal=0"
    )
    try:
        handlers = [
            t for t in set(threading.enumerate()) - before
            if "process_request" in t.name
        ]
        assert len(handlers) == 1
        # the batch has reached delivery; give the write time to fill the buffers
        assert _wait_for(
            lambda: manager.snapshot().get("charges", {}).get("received"), 120
        )
        time.sleep(1)
        stopper = threading.Thread(target=manager.stop_consumer, args=("charges",), daemon=True)
        stopper.start()
        stopper.join(timeout=20)
        assert not stopper.is_alive(), "stop_consumer waited on the socket"
        handlers[0].join(timeout=10)
        assert not handlers[0].is_alive(), "the session still writes to a client that does not read"
    finally:
        c.shutdown()


def test_a_blocked_socket_write_holds_back_the_next_batch(ws_stack):
    """Backpressure is the consumer's blocking socket write: while a client
    does not read, the batch in delivery stays unsent and Spark plans no
    next batch, as foreachBatch has not returned. Once the client reads,
    every message arrives in order, with no gap."""
    server, registry, manager, log_root = ws_stack
    w = EventLogWriter(log_root, "charges")
    pad = "x" * 65_000
    body = '{"message_type": "t", "message_body": {"pad": "%s"}}' % pad
    for i in range(400):
        w.publish(body, BASE_TS + i)
    rec = registry.create("charges")

    def counts():
        snap = manager.snapshot().get("charges", {})
        return {k: snap.get(k) for k in ("received", "sent")}

    c = WsClient(
        "127.0.0.1", server.port, f"/event-stream/{rec['uuid']}?stream_from_ordinal=0",
        timeout=120,
    )
    try:
        assert _wait_for(lambda: counts()["received"], 120)
        for i in range(400, 450):
            w.publish(body, BASE_TS + i)
        deadline = time.monotonic() + 3
        while time.monotonic() < deadline:
            assert counts() == {"received": 400, "sent": 0}
            time.sleep(0.1)
        ordinals = []
        while len(ordinals) < 450:
            text, close = c.recv_text_or_close()
            assert close is None, close
            ordinals.append(json.loads(text)["ess_ordinal"])
        assert ordinals == list(range(1, 451))
    finally:
        c.shutdown()

def test_concurrent_starts_each_replay_and_close_on_poison(ws_stack):
    """Four clients connect at once to four streams: each gets its replay
    and then close 1000 on the POISON pill."""
    server, registry, manager, log_root = ws_stack
    uuids = []
    for k in range(4):
        w = EventLogWriter(log_root, f"s{k}")
        for i in range(3):
            w.publish('{"message_type": "t", "message_body": {"sqn": %d}}' % i, BASE_TS + i)
        w.publish("POISON", BASE_TS + 3)
        uuids.append(registry.create(f"s{k}")["uuid"])
    gate = threading.Barrier(len(uuids))
    results = {}

    def consume(uuid):
        gate.wait()
        c = WsClient(
            "127.0.0.1", server.port, f"/event-stream/{uuid}?stream_from_ordinal=0", timeout=120
        )
        ordinals, close = [], None
        try:
            while close is None:
                text, close = c.recv_text_or_close()
                if text is not None:
                    ordinals.append(json.loads(text)["ess_ordinal"])
        finally:
            c.shutdown()
            results[uuid] = (ordinals, close)

    clients = [threading.Thread(target=consume, args=(u,), daemon=True) for u in uuids]
    for t in clients:
        t.start()
    for t in clients:
        t.join(timeout=180)
    assert results == {u: ([1, 2, 3], (CLOSE_NORMAL, "")) for u in uuids}


def test_concurrent_connects_to_one_stream_leave_no_orphan_consumer(ws_stack):
    """Two clients connect to one stream at once. The later registration
    replaces the earlier consumer, so once the stream is stopped every
    session has its close frame and no consumer or query is left."""
    server, registry, manager, log_root = ws_stack
    w = EventLogWriter(log_root, "s")
    for i in range(3):  # no POISON: each consumer runs until it is stopped
        w.publish('{"message_type": "t", "message_body": {"sqn": %d}}' % i, BASE_TS + i)
    es_uuid = registry.create("s")["uuid"]

    handles = []
    start_consumer = manager.start_consumer

    def counting_start(*args, **kwargs):
        handle = start_consumer(*args, **kwargs)
        handles.append(handle)
        return handle

    manager.start_consumer = counting_start
    gate = threading.Barrier(2)
    closes = {}

    def consume(k):
        gate.wait()
        c = WsClient(
            "127.0.0.1", server.port, f"/event-stream/{es_uuid}?stream_from_ordinal=0",
            timeout=40,
        )
        close = None
        try:
            while close is None:
                _, close = c.recv_text_or_close()
        except OSError:
            pass  # no close frame within the timeout
        finally:
            c.shutdown()
            closes[k] = close

    clients = [threading.Thread(target=consume, args=(k,), daemon=True) for k in range(2)]
    for t in clients:
        t.start()
    assert _wait_for(lambda: len(handles) == 2, 120)
    manager.stop_consumer("s")
    for t in clients:
        t.join(timeout=60)
    # The close code is not asserted: a query that fails to start closes
    # its session 1011 (ROADMAP item 5's start race), not 1000.
    assert closes[0] is not None and closes[1] is not None, closes
    assert manager.snapshot() == {}
    assert not any(h.query.isActive for h in handles)


def test_ws_close_fails_a_send_blocked_on_a_client_that_does_not_read(fake_stack):
    """No Spark: a session delivers its sink's sends, and its close fails a
    send blocked on a client that stopped reading, within the close's
    bounded wait. Nothing is written after the close, and the session's
    teardown stops its consumer."""
    server, started, stopped = fake_stack
    c = WsClient("127.0.0.1", server.port, "/event-stream/u", timeout=10)
    try:
        assert _wait_for(lambda: started, 10)
        sink = started[0].sink
        sink.send(["first", "second"])
        assert c.recv_text_or_close() == ("first", None)
        assert c.recv_text_or_close() == ("second", None)

        # 25 MB, more than the socket buffers hold: the client reads no more
        errors = []

        def send_big():
            try:
                sink.send(["x" * 65_536] * 400)
            except OSError as exc:
                errors.append(exc)

        sender = threading.Thread(target=send_big, daemon=True)
        sender.start()
        sender.join(timeout=1)
        assert sender.is_alive(), "the send should block on a client that does not read"
        t0 = time.monotonic()
        sink.close(CLOSE_NORMAL)
        sender.join(timeout=10)
        assert not sender.is_alive() and errors
        assert time.monotonic() - t0 < 5
        with pytest.raises(OSError):
            sink.send(["after the close"])
        assert _wait_for(lambda: stopped, 10)
        assert stopped == [started[0]]
    finally:
        c.shutdown()


def test_oversized_client_frame_closes_1009(fake_stack):
    """A client frame over 16 MiB is refused with 1009 before its payload
    is read (a declared 2^62 bytes used to kill the reader thread with a
    MemoryError, so the session never saw a close), and the consumer is
    stopped."""
    server, started, stopped = fake_stack
    c = WsClient("127.0.0.1", server.port, "/event-stream/u", timeout=10)
    try:
        assert _wait_for(lambda: started, 10)
        # FIN|text, MASK|127, a 64-bit length, a mask key, and no payload
        c.sock.sendall(bytes([0x81, 0x80 | 127]) + struct.pack("!Q", 1 << 62) + b"mask")
        text, close = c.recv_text_or_close()
    finally:
        c.shutdown()
    assert text is None and close[0] == CLOSE_MESSAGE_TOO_BIG
    assert _wait_for(lambda: stopped, 10)
    assert stopped == [started[0]]


def test_ws_close_reason_is_cut_to_rfc_limit(ws_stack):
    server, *_ = ws_stack
    uuid = "u" * 200  # echoed into the close reason
    c = WsClient("127.0.0.1", server.port, f"/event-stream/{uuid}")
    opcode, payload = c.recv()
    c.shutdown()
    assert opcode == OP_CLOSE and len(payload) == 125
    assert parse_close(payload) == (
        CLOSE_NORMAL,
        ("Connect for unknown EventStream " + uuid)[:123],
    )


def test_es_client_prints_messages_and_byte_stats(ws_stack, capsys):
    """es_client.py, the listener-tool analog, against a live server."""
    import es_client

    server, registry, manager, log_root = ws_stack
    w = EventLogWriter(log_root, "charges")
    w.publish('{"message_type": "t", "message_body": {"sqn": 0}}', BASE_TS)
    w.publish("hello", BASE_TS + 1000)
    rec = registry.create("charges")
    es_client.main(
        [
            f"ws://127.0.0.1:{server.port}",
            rec["uuid"],
            "-o",
            "0",
            "--max-events",
            "2",
            "--timeout",
            "60",
        ]
    )
    out, err = capsys.readouterr()
    assert out.splitlines() == [
        f"[1] {BASE_TS} t {{'sqn': 0}}",
        f"[2] {BASE_TS + 1000} hello []",
    ]
    frames = [
        '{"message_type": "t", "message_body": {"sqn": 0}, '
        f'"ess_ordinal": 1, "ess_timestamp": {BASE_TS}}}',
        f"hello|ordinal: 2|timestamp: {BASE_TS + 1000}",
    ]
    sizes = [len(f.encode("utf-8")) for f in frames]
    err_lines = err.strip().splitlines()
    assert err_lines[-2] == "closed: (1000, '')"
    assert json.loads(err_lines[-1]) == {
        "total_bytes": sum(sizes),
        "total_messages": 2,
        "min": min(sizes),
        "max": max(sizes),
        "mean": round(sum(sizes) / 2),
    }


def test_es_client_idle_timeout_is_client_side(ws_stack, capsys):
    """--timeout is the client's idle limit: when no frame arrives in time
    the client closes, and the server answers with close 1000."""
    import es_client

    server, registry, manager, log_root = ws_stack
    EventLogWriter(log_root, "charges").publish(
        '{"message_type": "t", "message_body": {}}', BASE_TS
    )
    rec = registry.create("charges")
    es_client.main(
        [f"ws://127.0.0.1:{server.port}", rec["uuid"], "-o", "0", "--timeout", "15"]
    )
    out, err = capsys.readouterr()
    assert out.splitlines() == [f"[1] {BASE_TS} t {{}}"]
    assert err.strip().splitlines()[-2] == "closed: (1000, '')"


def test_ws_client_close_releases_consumer(ws_stack):
    server, registry, manager, log_root = ws_stack
    EventLogWriter(log_root, "charges").publish(
        '{"message_type": "t", "message_body": {}}', BASE_TS
    )
    rec = registry.create("charges")
    c = WsClient(
        "127.0.0.1",
        server.port,
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=0",
    )
    # receive the first message, then close client-side
    text, _ = c.recv_text_or_close()
    assert text is not None
    c.close()
    c.shutdown()
    # the server notices and releases the consumer (bounded wait)
    import time

    for _ in range(100):
        if not manager.snapshot():
            break
        time.sleep(0.2)
    assert not manager.snapshot()


def _http_status(port: int, request: bytes) -> str:
    """Send a raw request; return the response's status line."""
    import socket

    with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
        s.sendall(request)
        with s.makefile("rb") as f:
            return f.readline().decode("latin-1").strip()


def test_non_ws_request_gets_http_error(ws_stack):
    server, *_ = ws_stack
    upgrade = (
        b"Upgrade: websocket\r\nConnection: Upgrade\r\n"
        b"Sec-WebSocket-Key: MDEyMzQ1Njc4OWFiY2RlZg==\r\nSec-WebSocket-Version: 13\r\n"
    )
    for request, status in (
        (b"GET /event-stream/x HTTP/1.1\r\nHost: h\r\n\r\n", "HTTP/1.1 426"),
        (b"GET /elsewhere/x HTTP/1.1\r\nHost: h\r\n" + upgrade + b"\r\n", "HTTP/1.1 404"),
    ):
        assert _http_status(server.port, request).startswith(status), request


def test_header_flood_is_refused_431():
    """The handshake reads a bounded request head: a GET with thousands of
    headers is refused with 431 once the stdlib's 100-header cap is hit.
    No Spark: the refusal happens before the registry or manager is used."""
    server = EventStreamWsServer(registry=None, manager=None).start_background()
    try:
        headers = b"".join(b"X-H%d: v\r\n" % i for i in range(5000))
        request = b"GET /event-stream/x HTTP/1.1\r\nHost: h\r\n" + headers + b"\r\n"
        assert _http_status(server.port, request).startswith("HTTP/1.1 431")
    finally:
        server.stop()


def test_second_ws_consumer_replaces_first(ws_stack):
    """The reference's arbitration rule: at most one live consumer per
    stream, newest connection wins (memcached knock-out,
    app/app.py:320-344,451-462). Spark-native form: start_consumer
    replaces the StreamingQuery, and stopping the first consumer closes
    the first socket normally."""
    import threading
    import time

    server, registry, manager, log_root = ws_stack
    w = EventLogWriter(log_root, "charges")
    for i in range(3):
        w.publish(
            '{"message_type": "t", "message_body": {"sqn": %d}}' % i, BASE_TS + i * 1000
        )
    rec = registry.create("charges")

    first_result: dict = {"msgs": [], "close": None}

    def first_client():
        c = WsClient(
            "127.0.0.1",
            server.port,
            f"/event-stream/{rec['uuid']}?stream_from_ordinal=0",
            timeout=120,
        )
        close = None
        try:
            while close is None:
                text, close = c.recv_text_or_close()
                if text is not None:
                    first_result["msgs"].append(json.loads(text))
        finally:
            first_result["close"] = close
            c.shutdown()

    t1 = threading.Thread(target=first_client, daemon=True)
    t1.start()
    # let the first consumer deliver everything it has
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and len(first_result["msgs"]) < 3:
        time.sleep(0.2)
    assert len(first_result["msgs"]) == 3

    # second connection for the same stream knocks the first out
    c2 = WsClient(
        "127.0.0.1",
        server.port,
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=2",
    )
    text2, close2 = c2.recv_text_or_close()
    assert text2 is not None and json.loads(text2)["ess_ordinal"] == 3
    c2.close()
    while close2 is None:
        _, close2 = c2.recv_text_or_close()
    c2.shutdown()
    assert close2[0] == CLOSE_NORMAL

    t1.join(timeout=60)
    assert not t1.is_alive(), "first client should have been released"
    # first client got a clean close after its consumer was replaced
    assert first_result["close"][0] == CLOSE_NORMAL


# -- param validation parity (app/app.py:230-278) ---------------------------
def test_ws_bad_datetime_closes_1002_with_reference_message(ws_stack):
    server, registry, manager, log_root = ws_stack
    EventLogWriter(log_root, "charges").publish('{"a": 1}', BASE_TS)
    rec = registry.create("charges")
    c = WsClient(
        "127.0.0.1",
        server.port,
        f"/event-stream/{rec['uuid']}?stream_from_datetime=not-a-date",
    )
    text, close = c.recv_text_or_close()
    c.shutdown()
    assert text is None
    # the reference's exact message (app/app.py:243-245), via a proper
    # 1002 close — not an abrupt socket teardown from an uncaught
    # ValueError during stream startup
    assert close == (CLOSE_PROTOCOL_ERROR, "Unable to parse stream_from_datetime value")


def test_seek_position_field_messages_and_precedence():
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import seek_position

    def error(seek):
        with pytest.raises(ValueError) as exc:
            seek_position(seek)
        return str(exc.value)

    assert error({"startingOrdinal": "xyz"}) == "stream_from_ordinal must be an integer"
    assert error({"startingTimestampMs": "later"}) == (
        "stream_from_timestamp must be an integer"
    )
    assert error({"startingDatetime": "2024-13-99"}) == (
        "Unable to parse stream_from_datetime value"
    )
    # mutual exclusion wins over a per-field error (app/app.py:269-273)
    assert error({"startingOrdinal": "xyz", "startingTimestampMs": "1"}) == (
        "Cannot provide more than one 'stream_from_' variable"
    )
    assert seek_position({"startingDatetime": "2024-01-01T00:00:00+00:00"}) == (
        "timestamp",
        1_704_067_200_000,
    )
    assert seek_position({"startingOrdinal": "4"}) == ("ordinal", 4)
    assert seek_position({}) == ("latest", None)
    assert seek_position({"startingTimestampMs": "1700000000000"}) == (
        "timestamp",
        1_700_000_000_000,
    )
    # A datetime without a zone is UTC, whatever the process zone is.
    assert seek_position({"startingDatetime": "1970-01-01T00:00:01"}) == ("timestamp", 1000)
    assert seek_position({"startingDatetime": "1970-01-01T01:00:01+01:00"}) == (
        "timestamp",
        1000,
    )
    # Spark hands a data source its options as a CaseInsensitiveDict whose
    # keys are lowercased.
    from pyspark.sql.datasource import CaseInsensitiveDict

    assert seek_position(CaseInsensitiveDict({"startingordinal": "7"})) == ("ordinal", 7)
