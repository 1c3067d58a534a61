"""Real WebSocket transport (C5/K1): RFC 6455 handshake, framing, replay
semantics, and close-code parity with the reference
(/root/reference/app/app.py:193-373, send at :496-508).

These run the full stack end-to-end: stdlib WS server → StreamManager →
Spark Structured Streaming relay → WS frames back to a stdlib client.
"""

from __future__ import annotations

import json

import pytest

from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import EventLogWriter
from squonk2_fastapi_ws_event_stream_spark.sources.registry import Registry
from squonk2_fastapi_ws_event_stream_spark.streaming.manager import StreamManager
from squonk2_fastapi_ws_event_stream_spark.streaming.websocket import (
    CLOSE_INTERNAL_ERROR,
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
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=1&max_events=3&timeout_s=60",
    )
    msgs, close = [], None
    while close is None:
        text, close = c.recv_text_or_close()
        if text is not None:
            msgs.append(json.loads(text))
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
    assert close[0] == CLOSE_PROTOCOL_ERROR
    assert "more than one 'stream_from_'" in close[1]


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
        f"/event-stream/{rec['uuid']}?max_events=1&timeout_s=60",
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
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=0&max_events=10&timeout_s=60",
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


def test_ws_client_close_releases_consumer(ws_stack):
    server, registry, manager, log_root = ws_stack
    EventLogWriter(log_root, "charges").publish(
        '{"message_type": "t", "message_body": {}}', BASE_TS
    )
    rec = registry.create("charges")
    c = WsClient(
        "127.0.0.1",
        server.port,
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=0&timeout_s=60",
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


def test_non_ws_request_gets_http_error(ws_stack):
    import socket

    server, *_ = ws_stack
    s = socket.create_connection(("127.0.0.1", server.port), timeout=10)
    s.sendall(b"GET /event-stream/x HTTP/1.1\r\nHost: h\r\n\r\n")
    resp = s.recv(4096).decode("latin-1")
    s.close()
    assert resp.startswith("HTTP/1.1 426")


def test_second_ws_consumer_replaces_first(ws_stack):
    """The reference's arbitration rule: at most one live consumer per
    stream, newest connection wins (memcached knock-out,
    app/app.py:320-344,451-462). Spark-native form: start_consumer
    replaces the StreamingQuery, and the first socket's delivery loop ends
    with a normal close once its consumer's hub is sentinel-terminated."""
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
            f"/event-stream/{rec['uuid']}?stream_from_ordinal=0&timeout_s=120",
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
        f"/event-stream/{rec['uuid']}?stream_from_ordinal=2&max_events=1&timeout_s=60",
    )
    text2, close2 = c2.recv_text_or_close()
    assert text2 is not None and json.loads(text2)["ess_ordinal"] == 3
    c2.close()
    c2.shutdown()

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


def test_consume_params_field_messages_and_precedence():
    from squonk2_fastapi_ws_event_stream_spark.streaming.websocket import ConsumeParams

    p = ConsumeParams.from_query("stream_from_ordinal=xyz")
    assert p.error == "stream_from_ordinal must be an integer"
    p = ConsumeParams.from_query("stream_from_timestamp=later")
    assert p.error == "stream_from_timestamp must be an integer"
    p = ConsumeParams.from_query("stream_from_datetime=2024-13-99")
    assert p.error == "Unable to parse stream_from_datetime value"
    # mutual exclusion REPLACES a per-field error (app/app.py:269-273)
    p = ConsumeParams.from_query("stream_from_ordinal=xyz&stream_from_timestamp=1")
    assert p.error == "Cannot provide more than one 'stream_from_' variable"
    # valid datetime passes through unparsed (the source option parses it)
    p = ConsumeParams.from_query("stream_from_datetime=2024-01-01T00:00:00%2B00:00")
    assert p.error is None and p.starting_datetime == "2024-01-01T00:00:00+00:00"


def test_consume_params_default_is_no_idle_timeout():
    from squonk2_fastapi_ws_event_stream_spark.streaming.websocket import ConsumeParams

    # reference parity: a quiet stream's consumer stays connected until
    # POISON or client close; finite timeout_s is opt-in for tests/drains
    assert ConsumeParams.from_query("").timeout_s is None
    assert ConsumeParams.from_query("timeout_s=5").timeout_s == 5.0
