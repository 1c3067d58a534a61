"""Service benchmark for the event-stream relay.

Starts the service (perfbench/service.py, assembled as serve.py assembles
it) as its own process on local[nproc], drives it from this process through
its public surfaces - REST on the control port, RFC 6455 WebSocket on the
WS port, appends to the stream logs through EventLogWriter - and checks
every frame it receives against frames it computes itself.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/NOTES.md for what each loads and bypasses):
  live_tail       open loop: 2 history-laden streams, one consumer each
                  joined at "latest", messages published at a fixed rate
  replay_catchup  closed loop: 2 clients, each POST -> WS replay from a
                  seeded ordinal/timestamp/datetime -> drain -> DELETE

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Everything above it is a readable report. Exit codes: 0 correct,
1 a correctness mismatch, 2 the service could not be set up, 3 the load
generator lagged or saturated (run invalid).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import resource
import select
import selectors
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "squonk2_fastapi_ws_event_stream_spark"
sys.path.insert(0, HERE)

import wsclient  # noqa: E402
from tracing import Tracer, wrapper_cost_s  # noqa: E402

HOST = "127.0.0.1"
# One consumer per stream, one stream per replay client. Two, not four:
# four concurrent queries saturate a 4-core machine, and latency then
# tracks host speed one to one (perfbench/NOTES.md).
LIVE_STREAMS = 2
REPLAY_CLIENTS = 2
SETUPS = 2  # service starts per run; setup_s is their median
DRIVER_MEMORY = "1g"
REST_TIMEOUT_S = 15.0
START_GATE_TIMEOUT_S = 30.0
POISON = "POISON"

LIVE_HISTORY = 20_000  # messages already in each live stream's log
LIVE_RATE = 200.0  # messages per second, all streams together
LIVE_GRACE_S = 15.0  # deadline for a message to arrive after the window

CHURN_S = 0.25  # one REST create + delete of an unconsumed stream this often

REPLAY_HISTORY = 5_000  # messages in each replay stream's log
REPLAY_TAIL = 200  # of which the last ones are appended through EventLogWriter
REPLAY_SESSION_S = 60.0  # deadline of one replay session, connect to close

MAX_LATE_P99_MS = 50.0  # open-loop generator lateness bound
MAX_CPU_SHARE = 0.25  # generator CPU seconds / (wall seconds x nproc)

TS_BASE_MS = 1_600_000_000_000


class SetupError(RuntimeError):
    pass


_T0 = time.perf_counter()


def phase(name: str) -> None:
    """Progress line on stderr: seconds since the benchmark started."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {name}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------
_LETTERS = "".join(random.Random(0).choices("abcdefghijklmnopqrstuvwxyz", k=4096))


def _word(rng: random.Random, n: int) -> str:
    """n seeded letters: a slice of a fixed letter string at a seeded offset."""
    o = rng.randrange(len(_LETTERS) - n)
    return _LETTERS[o : o + n]


def json_body(rng: random.Random, seq: int) -> str:
    return '{"seq": %d, "name": "%s", "note": "%s"}' % (seq, _word(rng, 8), _word(rng, rng.randint(8, 160)))


def proto_body(rng: random.Random, seq: int) -> str:
    return f'seq: {seq} name: "{_word(rng, 8)}" note: "{_word(rng, rng.randint(8, 160))}"'


def replay_body(rng: random.Random, seq: int) -> str:
    """Seeded mix: deliverable JSON and protobuf-text, plus empty and
    malformed-JSON bodies the relay must drop."""
    r = rng.random()
    if r < 0.70:
        return json_body(rng, seq)
    if r < 0.92:
        return proto_body(rng, seq)
    if r < 0.96:
        return ""
    return '{"seq": %d, "broken": ' % seq


def expected_frame(body: str, ordinal: int, ts_ms: int) -> str | None:
    """The enriched frame the relay must deliver for one message, or None
    when the message must never be delivered."""
    if body == "" or body == POISON:
        return None
    if body.startswith("{"):
        try:
            json.loads(body)
        except ValueError:
            return None
        return body.rstrip()[:-1] + f', "ess_ordinal": {ordinal}, "ess_timestamp": {ts_ms}}}'
    return f"{body}|ordinal: {ordinal}|timestamp: {ts_ms}"


def write_history(path: str, bodies: list[str], stamps: list[int]) -> None:
    """Pre-fill a stream log in the record format EventLogWriter appends
    (one JSON object per line, ordinals from 1)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for i, (body, ts) in enumerate(zip(bodies, stamps), start=1):
            f.write('{"offset": %d, "timestamp": %d, "value": %s}\n' % (i, ts, json.dumps(body)))


# ---------------------------------------------------------------------------
# The service process
# ---------------------------------------------------------------------------
def free_port() -> int:
    with socket.socket() as s:
        s.bind((HOST, 0))
        return s.getsockname()[1]


def rest(method: str, port: int, path: str, body: dict | None = None,
         timeout: float = REST_TIMEOUT_S) -> tuple[int, dict | None]:
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"http://{HOST}:{port}{path}", data=data, method=method,
        headers={"Content-Type": "application/json"} if data else {},
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            raw = resp.read()
            return resp.status, (json.loads(raw) if raw else None)
    except urllib.error.HTTPError as exc:
        return exc.code, None


def _proc_stat(pid: int) -> tuple[str, int, str] | None:
    """(command name, parent pid, state) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, _, tail = f.read().rpartition(")")
    except OSError:
        return None
    fields = tail.split()
    return head.partition("(")[2], int(fields[1]), fields[0]


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _proc_stat(int(name))) is not None:
            children.setdefault(st[1], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
    except OSError:
        return 0


class Service:
    """One service process with its JVM and the JVM's Python workers.

    PySpark's worker daemons move to process groups of their own, so the
    service is tracked as a process tree, not as a process group."""

    def __init__(self, work: str, trace: bool) -> None:
        self.work = work
        self.port, self.ws_port = free_port(), free_port()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            PYTHONUNBUFFERED="1",
        )
        self.log_path = os.path.join(work, f"service-{self.port}.log")
        self._log = open(self.log_path, "wb")
        self.t_start = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "service.py"), "--port", str(self.port),
             "--ws-port", str(self.ws_port), "--work", work, "--trace", str(int(trace))],
            cwd=ROOT, env=env, stdout=self._log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )

    def wait_ready(self, timeout: float = 150.0) -> float:
        """Seconds from process start until health answers 200 and the WS
        port accepts a connection."""
        deadline = self.t_start + timeout
        while time.perf_counter() < deadline:
            if self.proc.poll() is not None:
                raise SetupError(f"service exited with {self.proc.returncode}")
            try:
                status, _ = rest("GET", self.port, "/event-stream/health/", timeout=5)
                if status == 200:
                    with socket.create_connection((HOST, self.ws_port), timeout=5):
                        pass
                    return time.perf_counter() - self.t_start
            except OSError:
                pass
            time.sleep(0.05)
        raise SetupError("service not ready in time")

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of the service process plus that of its JVM.
        The Python workers come and go, so they are left out."""
        jvms = [c for c in _descendants(self.proc.pid)
                if (st := _proc_stat(c)) is not None and st[0] == "java" and st[1] == self.proc.pid]
        return sum(_vm_hwm_kb(pid) for pid in [self.proc.pid, *jvms]) / 1024.0

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(self.log_path, "rb") as f:
                return b"\n".join(f.read().splitlines()[-n:]).decode("utf-8", "replace")
        except OSError:
            return ""

    def stop(self, graceful: bool = True) -> None:
        """Stop the service and every process under it, and wait until each
        has ended; graceful lets the service stop its consumers first."""
        tree = [self.proc.pid, *_descendants(self.proc.pid)]
        if graceful:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(self.proc.pid, signal.SIGTERM)
            with contextlib.suppress(subprocess.TimeoutExpired):
                self.proc.wait(timeout=20)
        tree += [p for p in _descendants(self.proc.pid) if p not in tree]
        for pid in tree:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        self.proc.wait()
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and any(
            (st := _proc_stat(pid)) is not None and st[2] != "Z" for pid in tree
        ):
            time.sleep(0.05)
        self._log.close()


def start_service(work: str, trace: bool, services: list) -> tuple["Service", list[float]]:
    """Start the service SETUPS times, one after another; returns the last
    one (left running) and every start's set-up time."""
    times = []
    for i in range(SETUPS):
        svc = Service(work, trace)
        services.append(svc)
        try:
            times.append(svc.wait_ready())
        except SetupError as exc:
            raise SetupError(f"{exc}\n{svc.log_tail()}") from None
        if i < SETUPS - 1:
            svc.stop(graceful=False)  # it never served a consumer
            services.remove(svc)
    return svc, times


# ---------------------------------------------------------------------------
# Generator-side helpers
# ---------------------------------------------------------------------------
class Recorder:
    """Generator-side spans (traced runs only) and the control-op timings
    every run reports."""

    def __init__(self, tracer: Tracer | None) -> None:
        self.tracer = tracer
        self.control_ms: list[float] = []
        self.control_failed = 0
        self._lock = threading.Lock()

    def span(self, name: str, sid: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, sid)

    def control(self, method: str, port: int, path: str, body: dict | None,
                want: int) -> dict | None:
        """A timed REST create/delete; a wrong status counts as failed."""
        with self.span(f"rest.{method}"):
            t0 = time.perf_counter()
            try:
                status, out = rest(method, port, path, body)
            except OSError:
                status, out = None, None
            ms = (time.perf_counter() - t0) * 1000
        with self._lock:
            self.control_ms.append(ms)
            if status != want:
                self.control_failed += 1
                print(f"MISMATCH {method} {path}: status {status}, want {want}", file=sys.stderr)
                return None
        return out if out is not None else {}


def wait_active(port: int, stream: str, sock: socket.socket | None = None) -> bool:
    """Poll /event-stream/health/ until `stream`'s consumer is active (or
    data is already waiting on `sock`)."""
    deadline = time.monotonic() + START_GATE_TIMEOUT_S
    while time.monotonic() < deadline:
        try:
            status, body = rest("GET", port, "/event-stream/health/", timeout=5)
            if status == 200 and body["consumers"].get(stream, {}).get("active"):
                return True
        except OSError:
            pass
        if sock is not None:
            ready, _, _ = select.select([sock], [], [], 0.05)
            if ready:
                return True
        else:
            time.sleep(0.05)
    return False


def churn(svc: Service, rec: Recorder, done) -> None:
    """Control-plane traffic beside the consumers: other users registering
    and deleting event streams that nobody consumes, until done()."""
    n = 0
    while not done():
        time.sleep(CHURN_S)
        created = rec.control("POST", svc.port, "/event-stream/", {"routing_key": f"churn-{n}"}, 201)
        if created is not None:
            rec.control("DELETE", svc.port, f"/event-stream/{created['id']}", None, 204)
        n += 1


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def uuid_of(created: dict) -> str:
    return created["location"].rstrip("/").rsplit("/", 1)[1]


# ---------------------------------------------------------------------------
# live_tail
# ---------------------------------------------------------------------------
def run_live(svc: Service, rng: random.Random, seconds: float, rec: Recorder) -> dict:
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import EventLogWriter

    log_root = os.path.join(svc.work, "log")
    streams = [f"live-{k}" for k in range(LIVE_STREAMS)]
    writers = [EventLogWriter(log_root, s) for s in streams]
    ids, socks = [], []
    for s in streams:
        created = rec.control("POST", svc.port, "/event-stream/", {"routing_key": s}, 201)
        if created is None:
            raise SetupError(f"could not register {s}")
        ids.append((created["id"], uuid_of(created)))

    # Consumers join at "latest", one at a time: the next starts only once
    # the health endpoint reports the previous one active.
    frames: list[list[tuple[float, bytes]]] = [[] for _ in streams]
    closes: list[int | None] = [None] * LIVE_STREAMS
    sel = selectors.DefaultSelector()
    for k, (s, (_, uuid)) in enumerate(zip(streams, ids)):
        with rec.span("ws.connect", sid=s):
            sock, rest_bytes = wsclient.connect(HOST, svc.ws_port, f"/event-stream/{uuid}", 10)
            if not wait_active(svc.port, s):
                raise SetupError(f"consumer for {s} never became active")
        socks.append(sock)
        sock.setblocking(False)
        parser = wsclient.FrameParser()
        sel.register(sock, selectors.EVENT_READ, (k, parser))
        for op, payload in parser.feed(rest_bytes):
            if op == wsclient.OP_TEXT:
                frames[k].append((time.perf_counter(), payload))

    stop_rx = threading.Event()

    def receive() -> None:
        open_socks = len(socks)
        while open_socks and not stop_rx.is_set():
            for key, _ in sel.select(timeout=0.1):
                k, parser = key.data
                try:
                    data = key.fileobj.recv(1 << 16)
                except (BlockingIOError, InterruptedError):
                    continue
                except OSError:
                    data = b""
                now = time.perf_counter()
                if not data:
                    sel.unregister(key.fileobj)
                    open_socks -= 1
                    continue
                for op, payload in parser.feed(data):
                    if op == wsclient.OP_TEXT:
                        frames[k].append((now, payload))
                    elif op == wsclient.OP_CLOSE:
                        closes[k] = wsclient.close_code(payload)
                        sel.unregister(key.fileobj)
                        open_socks -= 1

    rx = threading.Thread(target=receive, daemon=True)
    rx.start()

    stop_churn = threading.Event()
    churner = threading.Thread(target=churn, args=(svc, rec, stop_churn.is_set), daemon=True)
    churner.start()

    phase("live consumers active")
    # Open loop: message i is due at t0 + i / LIVE_RATE whatever happened
    # to the ones before it. The window starts once every consumer has
    # delivered a frame (its "latest" start offset is then fixed).
    published = []  # (stream index, ordinal, body, ts_ms, due, late_s, publish_s)
    t0 = time.perf_counter()
    window_start = window_end = None
    i = 0
    warm_deadline = t0 + 60.0
    while True:
        due = t0 + i / LIVE_RATE
        now = time.perf_counter()
        if window_start is None:
            if all(frames[k] for k in range(LIVE_STREAMS)):
                window_start = due + 1.0
                window_end = window_start + seconds
            elif now > warm_deadline:
                raise SetupError("live consumers delivered nothing during warm-up")
        elif due >= window_end:
            break
        if due > now:
            time.sleep(due - now)
        k = i % LIVE_STREAMS
        body = json_body(rng, i) if rng.random() < 0.7 else proto_body(rng, i)
        ts_ms = int(time.time() * 1000)
        ta = time.perf_counter()
        ordinal = writers[k].publish(body, timestamp_ms=ts_ms)
        tb = time.perf_counter()
        published.append((k, ordinal, body, ts_ms, due, ta - due, tb - ta))
        i += 1

    stop_churn.set()
    churner.join(timeout=2 * REST_TIMEOUT_S + 1)
    phase("window done")
    # Drain: every message published after a consumer's first delivered
    # frame must arrive, in order, before the grace deadline.
    expected: list[list[tuple[int, str, float]]] = [[] for _ in streams]
    for k, ordinal, body, ts_ms, due, _, _ in published:
        expected[k].append((ordinal, expected_frame(body, ordinal, ts_ms), due))
    deadline = time.perf_counter() + LIVE_GRACE_S

    def first_ordinal(k: int) -> int | None:
        if not frames[k]:
            return None
        text = frames[k][0][1].decode("utf-8", "replace")
        tail = text.rsplit("ordinal", 1)[-1]
        digits = "".join(ch for ch in tail.split(",")[0].split("|")[0] if ch.isdigit())
        return int(digits) if digits else None

    def want(k: int) -> list[tuple[int, str, float]]:
        first = first_ordinal(k)
        return [e for e in expected[k] if first is not None and e[0] >= first]

    while time.perf_counter() < deadline:
        if all(len(frames[k]) >= len(want(k)) for k in range(LIVE_STREAMS)):
            break
        time.sleep(0.1)

    # Close from the client side; the server answers with close 1000.
    for sock in socks:
        wsclient.send_close(sock)
    close_deadline = time.perf_counter() + 10
    while any(c is None for c in closes) and time.perf_counter() < close_deadline:
        time.sleep(0.05)
    stop_rx.set()
    rx.join(timeout=5)
    sel.close()
    for sock in socks:
        sock.close()
    for s, (es_id, _) in zip(streams, ids):
        rec.control("DELETE", svc.port, f"/event-stream/{es_id}", None, 204)

    # Score: latency over the messages due inside the window.
    lat_ms, failed, attempted, mismatches = [], 0, 0, []
    last_rx = window_start
    for k in range(LIVE_STREAMS):
        exp = want(k)
        got = frames[k]
        if not exp:
            mismatches.append(f"{streams[k]}: no frame delivered")
        for j, (ordinal, frame, due) in enumerate(exp):
            in_window = window_start <= due < window_end
            ok = j < len(got) and got[j][1].decode("utf-8", "replace") == frame
            if not ok and len(mismatches) < 10:
                mismatches.append(
                    f"{streams[k]} ordinal {ordinal}: "
                    + ("missing" if j >= len(got) else f"got {got[j][1][:120]!r}, want {frame[:120]!r}")
                )
            if in_window:
                attempted += 1
                if ok:
                    lat_ms.append((got[j][0] - due) * 1000)
                    last_rx = max(last_rx, got[j][0])
                else:
                    failed += 1
                    lat_ms.append((deadline - due) * 1000)
        if len(got) > len(exp):
            failed += len(got) - len(exp)
            mismatches.append(f"{streams[k]}: {len(got) - len(exp)} unexpected frames")
    bad_close = [(s, c) for s, c in zip(streams, closes) if c != 1000]
    for s, c in bad_close:
        mismatches.append(f"{s}: close code {c}, want 1000")
    late_ms = [p[5] * 1000 for p in published if window_start <= p[4] < window_end]
    # Delivered rate over window start .. last window receipt: the offered
    # rate, less whatever backlog the window left behind.
    rate = (attempted - failed) / (last_rx - window_start)
    mid = LIVE_HISTORY // 2  # the history's timestamps are TS_BASE_MS + 10 * i
    mid_ts = TS_BASE_MS + 10 * (mid - 1)
    mid_dt = datetime.fromtimestamp(mid_ts // 1000, tz=timezone.utc).replace(tzinfo=None)
    return {
        "headline": {
            "live_latency_p50_ms": (median(lat_ms), "ms", len(lat_ms)),
            "live_latency_p90_ms": (pct(lat_ms, 90), "ms", len(lat_ms)),
            "live_latency_p99_ms": (pct(lat_ms, 99), "ms", len(lat_ms)),
            "live_msgs_per_s": (rate, "1/s", len(lat_ms)),
        },
        "latency_p50_ms": median(lat_ms),
        "latency_p90_ms": pct(lat_ms, 90),
        "msgs_per_s": rate,
        "late_ms": late_ms,
        "attempted": attempted + LIVE_STREAMS,  # + one close handshake per stream
        "failed": failed + len(bad_close),
        "mismatches": mismatches,
        "publish_ms": [p[6] * 1000 for p in published],
        "probe_streams": streams,
        "seeks": [(s, param, value) for s in streams for param, value in (
            ("stream_from_ordinal", str(mid)),
            ("stream_from_timestamp", str(mid_ts)),
            ("stream_from_datetime", mid_dt.isoformat()),
        )],
    }


# ---------------------------------------------------------------------------
# replay_catchup
# ---------------------------------------------------------------------------
class ReplayStream:
    def __init__(self, name: str, bodies: list[str], stamps: list[int]) -> None:
        self.name = name
        self.bodies, self.stamps = bodies, stamps
        self.frames = [expected_frame(b, i, t) for i, (b, t) in enumerate(zip(bodies, stamps), start=1)]

    def plan(self, rng: random.Random, kind: str | None = None) -> tuple[str, str, int]:
        """A seeded seek: (query param, value, exclusive start ordinal)."""
        n = len(self.bodies)
        j = rng.randrange(n // 2 - 50, n // 2 + 50)  # replays cover about the last half
        kind = kind or rng.choice(("ordinal", "timestamp", "datetime"))
        if kind == "ordinal":
            return "stream_from_ordinal", str(j), j
        if kind == "timestamp":
            cutoff = self.stamps[j] + rng.randrange(0, 7) if j else self.stamps[0] - 1
        else:
            sec = self.stamps[max(j, 1) - 1] // 1000
            cutoff = sec * 1000
        start = sum(1 for t in self.stamps if t <= cutoff)
        if kind == "timestamp":
            return "stream_from_timestamp", str(cutoff), start
        iso = datetime.fromtimestamp(cutoff // 1000, tz=timezone.utc).replace(tzinfo=None)
        return "stream_from_datetime", iso.isoformat(), start

    def expected(self, start: int) -> list[str]:
        out = []
        for body, frame in zip(self.bodies[start:], self.frames[start:]):
            if body == POISON:
                break
            if frame is not None:
                out.append(frame)
        return out


def make_replay_streams(rng: random.Random, log_root: str) -> list[ReplayStream]:
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import LOG_FILE

    out = []
    for k in range(REPLAY_CLIENTS):
        name = f"replay-{k}"
        bodies = [replay_body(rng, i) for i in range(REPLAY_HISTORY - 1)] + [POISON]
        stamps, ts = [], TS_BASE_MS
        for _ in bodies:
            ts += rng.randint(1, 20)
            stamps.append(ts)
        head = REPLAY_HISTORY - REPLAY_TAIL
        write_history(os.path.join(log_root, name, LOG_FILE), bodies[:head], stamps[:head])
        out.append(ReplayStream(name, bodies, stamps))
    return out


def publish_tails(streams: list[ReplayStream], log_root: str) -> list[float]:
    """Append each stream's last REPLAY_TAIL messages (POISON last) through
    EventLogWriter, the broker analog; returns per-publish milliseconds."""
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import EventLogWriter

    times = []
    head = REPLAY_HISTORY - REPLAY_TAIL
    for st in streams:
        w = EventLogWriter(log_root, st.name)
        for body, ts in zip(st.bodies[head:], st.stamps[head:]):
            t0 = time.perf_counter()
            w.publish(body, timestamp_ms=ts)
            times.append((time.perf_counter() - t0) * 1000)
    return times


def replay_session(svc: Service, st: ReplayStream, rng: random.Random, gate: threading.Lock,
                   rec: Recorder, sid: str) -> dict:
    param, value, start = st.plan(rng)
    want = st.expected(start)
    res = {"ok": False, "frames": 0, "ttfe_s": None, "why": None}
    with rec.span("session", sid=sid):
        created = rec.control("POST", svc.port, "/event-stream/", {"routing_key": st.name}, 201)
        if created is None:
            res["why"] = "POST failed"
            return res
        sock = None
        try:
            with gate:  # consumers start one at a time
                with rec.span("ws.connect"):
                    t_conn = time.perf_counter()
                    deadline = t_conn + REPLAY_SESSION_S
                    sock, pending = wsclient.connect(
                        HOST, svc.ws_port, f"/event-stream/{uuid_of(created)}?{param}={value}",
                        REPLAY_SESSION_S,
                    )
                    if not pending and not wait_active(svc.port, st.name, sock):
                        raise TimeoutError("consumer never became active")
            got, code, t_first = [], None, None
            parser = wsclient.FrameParser()
            data = pending
            with rec.span("ws.drain"):
                while True:
                    now = time.perf_counter()
                    for op, payload in parser.feed(data):
                        if op == wsclient.OP_TEXT:
                            if t_first is None:
                                t_first = now
                            got.append(payload.decode("utf-8", "replace"))
                        elif op == wsclient.OP_CLOSE:
                            code = wsclient.close_code(payload)
                    if code is not None:
                        break
                    if now > deadline:
                        raise TimeoutError("session deadline")
                    sock.settimeout(max(0.01, deadline - now))
                    data = sock.recv(1 << 18)
                    if not data:
                        raise ConnectionError("closed without a close frame")
            wsclient.send_close(sock)
            res["frames"] = len(got)
            res["ttfe_s"] = (t_first - t_conn) if t_first is not None else None
            if got != want:
                j = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
                res["why"] = (
                    f"{st.name} {param}={value}: {len(got)} frames, want {len(want)}; first "
                    f"difference at {j}: got {got[j][:100] if j < len(got) else None!r}, "
                    f"want {want[j][:100] if j < len(want) else None!r}"
                )
            elif code != 1000:
                res["why"] = f"{st.name}: close code {code}, want 1000"
            elif not want:
                res["why"] = f"{st.name}: empty replay"
            else:
                res["ok"] = True
        except (OSError, ConnectionError, TimeoutError) as exc:
            res["why"] = f"{st.name} {param}={value}: {type(exc).__name__}: {exc}"
            res["ttfe_s"] = None
        finally:
            if sock is not None:
                sock.close()
        if rec.control("DELETE", svc.port, f"/event-stream/{created['id']}", None, 204) is None:
            res["ok"] = False
            res["why"] = res["why"] or "DELETE failed"
    return res


def run_replay(svc: Service, streams: list[ReplayStream], publish_ms: list[float], seed: int,
               seconds: float, rec: Recorder) -> dict:
    gate = threading.Lock()
    # One unscored session first: the service's first consumer also starts
    # the Python workers, a cost paid once per service, not per session.
    warm = replay_session(svc, streams[0], random.Random(seed - 1), gate, rec, "warm-up")
    phase("warm-up session done")
    results: list[list[dict]] = [[] for _ in streams]
    t0 = time.perf_counter()
    window_end = t0 + seconds
    ends = [t0] * len(streams)

    def client(k: int) -> None:
        rng = random.Random(seed * 1000 + k)
        n = 0
        while time.perf_counter() < window_end:
            results[k].append(replay_session(svc, streams[k], rng, gate, rec, f"{streams[k].name}#{n}"))
            ends[k] = time.perf_counter()
            n += 1

    threads = [threading.Thread(target=client, args=(k,), daemon=True) for k in range(len(streams))]
    for t in threads:
        t.start()
    churn(svc, rec, lambda: time.perf_counter() >= window_end)
    for t in threads:
        t.join(timeout=seconds + REPLAY_SESSION_S + 3 * REST_TIMEOUT_S)
    if any(t.is_alive() for t in threads):
        raise SetupError("replay clients did not finish")
    sessions = [r for rs in results for r in rs]
    elapsed = max(ends) - t0
    checked = sessions + [warm]
    ttfe = [r["ttfe_s"] if r["ok"] else REPLAY_SESSION_S for r in sessions]
    rate = sum(r["frames"] for r in sessions if r["ok"]) / elapsed
    probe_rng = random.Random(seed)
    return {
        "headline": {
            "replay_ttfe_p50_s": (median(ttfe), "s", len(ttfe)),
            "replay_ttfe_p90_s": (pct(ttfe, 90), "s", len(ttfe)),
            "replay_msgs_per_s": (rate, "1/s", len(sessions)),
        },
        "latency_p50_ms": median(ttfe) * 1000,
        "latency_p90_ms": pct(ttfe, 90) * 1000,
        "msgs_per_s": rate,
        "late_ms": [],  # closed loop: nothing is scheduled
        "attempted": len(checked),
        "failed": sum(1 for r in checked if not r["ok"]),
        "mismatches": [r["why"] for r in checked if not r["ok"]][:10],
        "publish_ms": publish_ms,
        "probe_streams": [st.name for st in streams],
        "seeks": [(st.name, *st.plan(probe_rng, kind)[:2]) for st in streams
                  for kind in ("ordinal", "timestamp", "datetime")],
    }


# ---------------------------------------------------------------------------
# Traced-run layer metrics
# ---------------------------------------------------------------------------
def layer_probes(log_root: str, streams: list[str], seeks: list[tuple[str, str, str]]) -> dict:
    """Time the eventstream reader's public calls directly on this run's
    logs: a live-sized slice read of each history-laden log, and
    initialOffset() for each seek kind at the sessions' positions."""
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
        EventStreamStreamReader,
        StreamSlice,
    )

    read_ms = []
    for s in streams:
        reader = EventStreamStreamReader({"path": log_root, "stream": s})
        hi = reader.latestOffset()["offset"]
        for _ in range(3):
            t0 = time.perf_counter()
            rows = sum(b.num_rows for b in reader.read(StreamSlice(s, hi - 50, hi)))
            read_ms.append((time.perf_counter() - t0) * 1000)
            if rows != 50:
                raise RuntimeError(f"slice read of {s} returned {rows} rows, want 50")
    seek_ms: dict[str, list[float]] = {"ordinal": [], "timestamp": [], "datetime": []}
    option = {"stream_from_ordinal": ("ordinal", "startingOrdinal"),
              "stream_from_timestamp": ("timestamp", "startingTimestampMs"),
              "stream_from_datetime": ("datetime", "startingDatetime")}
    for stream, param, value in seeks:
        kind, opt = option[param]
        reader = EventStreamStreamReader({"path": log_root, "stream": stream, opt: value})
        t0 = time.perf_counter()
        reader.initialOffset()
        seek_ms[kind].append((time.perf_counter() - t0) * 1000)
    return {"read_ms": read_ms, "seek_ms": seek_ms}


def layer_metrics(svc: Service, probes: dict, publish_ms: list[float]) -> tuple[dict, dict]:
    """Per-layer metrics from the service's trace, the reader probes and
    the generator's publish timings; also returns the service's trace."""
    _, relay = rest("POST", svc.port, "/bench/relay", {}, timeout=120)
    _, layers = rest("GET", svc.port, "/bench/layers", timeout=30)
    trace, consumers = layers["trace"], layers["consumers"]
    timers, counters = trace["timers"], trace["counters"]

    def t_med_ms(name: str) -> float:
        t = timers.get(name)
        return median(t["samples"]) * 1000 if t and t["samples"] else 0.0

    batches = [b for b in consumers["batches"] if b["rows"] > 0]

    def b_med(key: str) -> float:
        return median([b[key] for b in batches])

    get_spark = [s for s in trace["spans"] if s["name"] == "session.get_spark"]
    wrapped_calls = sum(t["count"] for t in timers.values())
    m = {
        "session.get_spark_s": (get_spark[0]["end"] - get_spark[0]["start"]) if get_spark else 0.0,
        "eventstream.read_slice_ms": median(probes["read_ms"]),
        "eventstream.latestOffset_ms": b_med("latestOffset"),
        "eventstream.getBatch_ms": b_med("getBatch"),
        "eventstream.seek_ordinal_ms": median(probes["seek_ms"]["ordinal"]),
        "eventstream.seek_timestamp_ms": median(probes["seek_ms"]["timestamp"]),
        "eventstream.seek_datetime_ms": median(probes["seek_ms"]["datetime"]),
        "eventstream.publish_ms": median(publish_ms),
        "pipeline.relay_rows_per_s": relay["rows"] / relay["seconds"],
        "manager.start_consumer_ms": t_med_ms("manager.start_consumer"),
        "manager.stop_consumer_ms": t_med_ms("manager.stop_consumer"),
        "manager.addBatch_ms": b_med("addBatch"),
        "manager.trigger_ms": b_med("triggerExecution"),
        "manager.walCommit_ms": b_med("walCommit"),
        "manager.commitOffsets_ms": b_med("commitOffsets"),
        "manager.queryPlanning_ms": b_med("queryPlanning"),
        "manager.batches": float(len(batches)),
        "manager.rows_per_batch": (sum(b["rows"] for b in batches) / len(batches)) if batches else 0.0,
        "manager.received": float(sum(s.get("received", 0) for s in consumers["stats"])),
        "manager.sent": float(sum(s.get("sent", 0) for s in consumers["stats"])),
        "websocket.encode_ms": (timers.get("websocket.encode", {}).get("total", 0.0)) * 1000,
        "websocket.frames": float(counters.get("websocket.frames", 0)),
        "websocket.bytes": float(counters.get("websocket.bytes", 0)),
        "websocket.close_1000": float(counters.get("websocket.close_1000", 0)),
        "api.post_es_ms": t_med_ms("api.post_es"),
        "api.delete_es_ms": t_med_ms("api.delete_es"),
        "api.health_ms": t_med_ms("api.health"),
        "registry.create_ms": t_med_ms("registry.create"),
        "registry.get_by_uuid_ms": t_med_ms("registry.get_by_uuid"),
        "registry.get_by_id_ms": t_med_ms("registry.get_by_id"),
        "registry.delete_ms": t_med_ms("registry.delete"),
        "registry.calls": float(sum(
            t["count"] for k, t in timers.items() if k.startswith("registry.")
        )),
        "trace.wrapper_ms": wrapped_calls * wrapper_cost_s() * 1000,
    }
    return m, trace


UNITS = (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_share", "share"), ("_mb", "MB"))


def unit_of(name: str) -> str:
    """A metric's unit, from its name's suffix; unsuffixed names are counts."""
    return next((unit for suffix, unit in UNITS if name.endswith(suffix)), "count")


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("live_tail", "replay_catchup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    nproc = os.cpu_count() or 1
    with open("/proc/meminfo") as f:
        ram_gib = int(f.readline().split()[1]) / 1024 / 1024
    print(f"machine: nproc={nproc} ram_gib={ram_gib:.1f}; service: local[{nproc}], "
          f"driver memory {DRIVER_MEMORY}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    services: list[Service] = []
    tracer = Tracer() if args.trace else None
    rec = Recorder(tracer)
    rng = random.Random(args.seed)
    seconds = float(args.seconds)

    def _term(_signum, _frame):
        raise SystemExit(143)

    signal.signal(signal.SIGTERM, _term)
    try:
        log_root = os.path.join(work, "log")
        if args.workload == "live_tail":
            from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import LOG_FILE

            for k in range(LIVE_STREAMS):
                bodies = [json_body(rng, i) for i in range(LIVE_HISTORY)]
                write_history(os.path.join(log_root, f"live-{k}", LOG_FILE), bodies,
                              [TS_BASE_MS + 10 * i for i in range(LIVE_HISTORY)])
        else:
            replay_streams = make_replay_streams(rng, log_root)
            tail_publish_ms = publish_tails(replay_streams, log_root)

        phase("inputs written")
        svc, setup_times = start_service(work, bool(args.trace), services)
        phase(f"service up; set-up times {[round(t, 2) for t in setup_times]}")
        cpu0 = resource.getrusage(resource.RUSAGE_SELF)
        w0 = time.perf_counter()
        if args.workload == "live_tail":
            out = run_live(svc, rng, seconds, rec)
        else:
            out = run_replay(svc, replay_streams, tail_publish_ms, args.seed, seconds, rec)
        wall = time.perf_counter() - w0
        phase("workload done")
        cpu1 = resource.getrusage(resource.RUSAGE_SELF)
        cpu_share = ((cpu1.ru_utime - cpu0.ru_utime) + (cpu1.ru_stime - cpu0.ru_stime)) / (wall * nproc)
        rss_mb = svc.peak_rss_mb()

        ctl = rec.control_ms
        attempted = out["attempted"] + len(ctl)
        failed = out["failed"] + rec.control_failed
        late_p99 = pct(out["late_ms"], 99) if out["late_ms"] else 0.0
        report = dict(out["headline"])
        report.update({
            "control_op_p50_ms": (median(ctl), "ms", len(ctl)),
            "control_op_p95_ms": (pct(ctl, 95), "ms", len(ctl)),
            "failed_ratio": (failed / attempted, "ratio", attempted),
            "setup_s": (median(setup_times), "s", len(setup_times)),
            "service_peak_rss_mb": (rss_mb, "MB", 1),
            "gen.late_p99_ms": (late_p99, "ms", len(out["late_ms"])),
            "gen.cpu_share": (cpu_share, "share", 1),
        })
        print(f"workload {args.workload} seed {args.seed} seconds {seconds:g} trace {args.trace}")
        for name, (value, unit, n) in report.items():
            print(f"  {name:<24} {value:12.4f} {unit:<6} n={n}")
        for line in out["mismatches"]:
            print(f"MISMATCH {line}")

        if late_p99 > MAX_LATE_P99_MS or cpu_share > MAX_CPU_SHARE:
            print(f"invalid run: generator late p99 {late_p99:.1f} ms (bound {MAX_LATE_P99_MS}), "
                  f"cpu share {cpu_share:.3f} (bound {MAX_CPU_SHARE})", file=sys.stderr)
            return 3

        if args.trace:
            probes = layer_probes(log_root, out["probe_streams"], out["seeks"])
            metrics, service_trace = layer_metrics(svc, probes, out["publish_ms"])
            metrics["gen.late_p99_ms"] = late_p99
            metrics["gen.cpu_share"] = cpu_share
            metrics["traced.latency_p50_ms"] = out["latency_p50_ms"]
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"generator": tracer.export(), "service": service_trace}, f)
            for name, value in metrics.items():
                print(f"  {name:<32} {value:14.4f} {unit_of(name)}")
        else:
            metrics = {
                "setup_s": median(setup_times),
                "service_peak_rss_mb": rss_mb,
                "latency_p50_ms": out["latency_p50_ms"],
                "latency_p90_ms": out["latency_p90_ms"],
                "msgs_per_s": out["msgs_per_s"],
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0 if failed == 0 else 1
    except SetupError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    finally:
        for svc in services:
            svc.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left only if another run still uses it
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
