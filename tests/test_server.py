"""HTTP API server tests (http/main.go, task_handler.go).

Route logic is exercised socket-free through AnalystServer.handle;
one test drives the real ThreadingHTTPServer end to end. Scheduler
time is driven by a fake clock so ticks are deterministic.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time
import urllib.request
from datetime import datetime, timedelta

import pytest

from analyst_spark.server import AnalystServer, serve


class FakeClock:
    def __init__(self, start: datetime):
        self.t = start

    def __call__(self) -> datetime:
        return self.t

    def advance(self, **kw):
        self.t += timedelta(**kw)


def echo_runner(script: str, params: dict) -> list[str]:
    if "BOOM" in script:
        raise RuntimeError("exploded")
    return [f"ran: {script.strip()[:20]}", f"params: {sorted(params)}"]


@pytest.fixture()
def srv(tmp_path):
    clock = FakeClock(datetime(2026, 1, 1, 0, 0, 0))
    s = AnalystServer(
        script_runner=echo_runner,
        db_path=str(tmp_path / "analyst.db"),
        clock=clock,
        task_runner=lambda task, args: f"task {task.name} ok",
    )
    return s, clock


def test_task_crud_roundtrip(srv):
    s, clock = srv
    status, t = s.handle("POST", "/tasks", {"name": "nightly", "schedule": "0 0 3 * * *"})
    assert status == 201 and t["id"] == 1 and t["enabled"]
    assert t["next_run"] == "2026-01-01T03:00:00"

    status, listing = s.handle("GET", "/tasks")
    assert status == 200 and [x["name"] for x in listing] == ["nightly"]

    status, t = s.handle("PUT", "/tasks/1", {"schedule": "0 0 5 * * *"})
    assert status == 200 and t["next_run"] == "2026-01-01T05:00:00"

    status, t = s.handle("PUT", "/tasks/1/disable", {})
    assert status == 200 and not t["enabled"]
    status, t = s.handle("PUT", "/tasks/1/enable", {})
    assert status == 200 and t["enabled"]

    status, out = s.handle("DELETE", "/tasks/1")
    assert status == 200 and out["deleted"] == 1
    status, _ = s.handle("GET", "/tasks/1/invocations")
    assert status == 404


def test_create_task_validates_schedule_and_fields(srv):
    s, _ = srv
    status, err = s.handle("POST", "/tasks", {"name": "x"})
    assert status == 400 and "schedule" in err["error"]
    status, err = s.handle("POST", "/tasks", {"name": "x", "schedule": "not a cron"})
    assert status == 400


def test_tick_runs_due_tasks_and_records_invocations(srv):
    s, clock = srv
    s.handle("POST", "/tasks", {"name": "hourly", "schedule": "0 0 * * * *"})
    s.tick()
    assert s.handle("GET", "/invocations")[1] == []  # not due yet
    # next_run == now does NOT run (the reference's catch-up loop is
    # strictly Before(now), scheduler.go:144) — advance past it
    clock.advance(hours=1, seconds=1)
    examined = s.tick()
    assert [t.name for t in examined] == ["hourly"]

    status, invs = s.handle("GET", "/tasks/1/invocations")
    assert status == 200 and len(invs) == 1
    assert invs[0]["success"] and invs[0]["log"] == "task hourly ok"
    assert invs[0]["scheduled_to_start_at"] == "2026-01-01T01:00:00"

    status, last = s.handle("GET", "/tasks/1/last-invocation")
    assert status == 200 and last["id"] == invs[0]["id"]

    status, all_invs = s.handle("GET", "/invocations")
    assert status == 200 and len(all_invs) == 1


def test_restart_recovers_tasks_and_invocations(tmp_path):
    db = str(tmp_path / "analyst.db")
    clock = FakeClock(datetime(2026, 1, 1))
    s1 = AnalystServer(script_runner=echo_runner, db_path=db, clock=clock,
                       task_runner=lambda t, a: "ok")
    s1.handle("POST", "/tasks", {"name": "j", "schedule": "0 0 * * * *", "coalesce": True})
    clock.advance(hours=1, seconds=1)
    s1.tick()
    s1.db.close()

    # downtime: 3 missed activations; coalesced task collapses them
    clock.advance(hours=3)
    s2 = AnalystServer(script_runner=echo_runner, db_path=db, clock=clock,
                       task_runner=lambda t, a: "ok")
    status, tasks = s2.handle("GET", "/tasks")
    assert status == 200 and tasks[0]["name"] == "j"
    status, invs = s2.handle("GET", "/invocations")
    assert len(invs) == 1  # history survived
    # repair() recomputed next_run from the last invocation; the
    # coalesced catch-up runs once, not three times
    s2.tick()
    status, invs = s2.handle("GET", "/invocations")
    assert len(invs) == 2


def test_run_and_compile_endpoints(srv):
    s, _ = srv
    status, out = s.handle("POST", "/run", {"script": "DATA 'x' (...)"})
    assert status == 200 and out["success"] and out["output"][0].startswith("ran:")

    status, out = s.handle("POST", "/run", {"script": "BOOM"})
    assert status == 200 and not out["success"] and "exploded" in out["error"]

    good = """
    QUERY 'a' FROM GLOBAL (SELECT 1 AS x);
    TRANSFORM 'b' FROM BLOCK a (AGGREGATE x, COUNT(1) AS n GROUP BY x) INTO CONSOLE
    """
    status, out = s.handle("POST", "/compile", {"script": good})
    assert status == 200 and out["success"] and out["blocks"] == 2

    bad_ref = "TRANSFORM 'b' FROM BLOCK missing (AGGREGATE x, COUNT(1) AS n GROUP BY x)"
    status, out = s.handle("POST", "/compile", {"script": bad_ref})
    assert status == 200 and not out["success"] and "undeclared block" in out["error"]

    status, out = s.handle("POST", "/compile", {"script": "NOT AQL AT ALL ("})
    assert status == 200 and not out["success"]


def test_compile_detects_cycles(srv):
    s, _ = srv
    cyc = """
    TRANSFORM 'a' FROM BLOCK b (AGGREGATE x, COUNT(1) AS n GROUP BY x);
    TRANSFORM 'b' FROM BLOCK a (AGGREGATE x, COUNT(1) AS n GROUP BY x) INTO CONSOLE
    """
    status, out = s.handle("POST", "/compile", {"script": cyc})
    assert status == 200 and not out["success"] and "cycle" in out["error"]


def test_unknown_routes_404(srv):
    s, _ = srv
    assert s.handle("GET", "/nope")[0] == 404
    assert s.handle("PUT", "/tasks/99/enable", {})[0] == 404
    assert s.handle("GET", "/tasks/1/last-invocation")[0] == 404


def _call(port: int, method: str, path: str, body=None, timeout: float = 60):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@contextlib.contextmanager
def _serving(server: AnalystServer):
    """serve() on an ephemeral port in a background thread; yields the
    port and shuts the server and its ticker down afterwards."""
    httpd = serve(server, port=0, tick_interval=3600)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        yield httpd.server_address[1]
    finally:
        httpd._analyst_stop.set()
        httpd.shutdown()
        httpd.server_close()


def _in_threads(fn, args: list) -> list:
    """Run fn(arg) for every arg in its own thread; results in order."""
    out = [None] * len(args)
    errors: list[Exception] = []

    def work(i, a):
        try:
            out[i] = fn(a)
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i, a)) for i, a in enumerate(args)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors[0]
    return out


def test_live_http_server_end_to_end(srv):
    s, clock = srv
    with _serving(s) as port:
        status, task = _call(port, "POST", "/tasks", {"name": "t", "schedule": "@every 1h"})
        assert status == 201 and task["id"] == 1
        status, tasks = _call(port, "GET", "/tasks")
        assert status == 200 and len(tasks) == 1
        status, out = _call(port, "POST", "/run", {"script": "anything"})
        assert status == 200 and out["success"]
        status, out = _call(port, "GET", "/bogus")
        assert status == 404


def _barrier_runner(barrier: threading.Barrier):
    def run(script: str, params: dict) -> list[str]:
        barrier.wait()  # returns only once a second party arrives
        return [script]

    return run


def test_concurrent_runs_do_not_wait_on_each_other():
    """Each /run's runner waits for the other at a two-party barrier:
    both succeed only if the server executes them at the same time."""
    s = AnalystServer(script_runner=_barrier_runner(threading.Barrier(2, timeout=10)))
    with _serving(s) as port:
        replies = _in_threads(
            lambda script: _call(port, "POST", "/run", {"script": script}),
            ["job-a", "job-b"],
        )
    assert replies == [
        (200, {"success": True, "output": ["job-a"]}),
        (200, {"success": True, "output": ["job-b"]}),
    ]


def test_compile_answers_while_a_run_is_blocked():
    barrier = threading.Barrier(2, timeout=30)
    s = AnalystServer(script_runner=_barrier_runner(barrier))
    with _serving(s) as port:
        run_reply = []
        t = threading.Thread(target=lambda: run_reply.append(
            _call(port, "POST", "/run", {"script": "held"})
        ))
        t.start()
        deadline = time.monotonic() + 10
        while barrier.n_waiting < 1 and time.monotonic() < deadline:
            time.sleep(0.01)
        assert barrier.n_waiting == 1  # the /run is inside its runner
        status, out = _call(port, "POST", "/compile",
                            {"script": "QUERY 'a' FROM GLOBAL (SELECT 1 AS x) INTO CONSOLE"},
                            timeout=5)
        assert status == 200 and out == {"success": True, "blocks": 1}
        assert not run_reply  # answered before the /run was released
        barrier.wait()  # release it
        t.join(timeout=10)
        assert not t.is_alive()
    assert run_reply == [(200, {"success": True, "output": ["held"]})]


def test_concurrent_task_creation_gets_distinct_ids(tmp_path):
    """_lock still guards task state: eight racing id-less creates
    (more clients than cores, short switch interval) never collide."""
    s = AnalystServer(script_runner=echo_runner, db_path=str(tmp_path / "a.db"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with _serving(s) as port:
            replies = _in_threads(
                lambda i: _call(port, "POST", "/tasks",
                                {"name": f"t{i}", "schedule": "@every 1h"}),
                list(range(8)),
            )
            status, tasks = _call(port, "GET", "/tasks")
    finally:
        sys.setswitchinterval(interval)
    assert {status for status, _ in replies} == {201}
    assert sorted(t["id"] for _, t in replies) == list(range(1, 9))
    assert status == 200 and sorted(t["name"] for t in tasks) == [f"t{i}" for i in range(8)]


def _shared_name_script(tag: int) -> str:
    # every request uses the same block alias and GLOBAL table name,
    # and joins its own table with the lake's nation view
    return f"""
    DATA 'Vals' ( [[{tag}], [{tag}], [{tag}]] ) WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'n')

    QUERY 'Agg' FROM BLOCK Vals (
        SELECT sum(n) AS total FROM vals
    ) INTO GLOBAL WITH (Table = 'Out')

    QUERY 'Echo' FROM GLOBAL (
        SELECT o.total, count(*) AS nations FROM out o CROSS JOIN nation GROUP BY o.total
    ) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
    AFTER Agg
    """


def test_concurrent_spark_runs_through_serve(spark):
    from analyst_spark.server import spark_script_runner
    from tests.conftest import SF_DIR

    s = AnalystServer(script_runner=spark_script_runner(spark, SF_DIR))

    def client(tag: int) -> list:
        outputs = []
        for _ in range(3):
            status, out = _call(port, "POST", "/run", {"script": _shared_name_script(tag)})
            assert status == 200 and out["success"], out
            outputs.append([json.loads(o) for o in out["output"]])
        return outputs

    with _serving(s) as port:
        got = _in_threads(client, [7, 11, 13, 17])
    for tag, outputs in zip([7, 11, 13, 17], got):
        assert outputs == [[[{"total": 3 * tag, "nations": 25}]]] * 3, tag


def test_run_aql_serve_smoke(tmp_path):
    """`tools/run_aql.py serve` starts the production server: it
    answers one /run on the lake and exits cleanly on SIGINT."""
    import os
    import signal
    import subprocess

    from tests.conftest import SF_DIR

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with subprocess.Popen(
        [sys.executable, os.path.join(root, "tools", "run_aql.py"), "serve",
         "--port", "0", "--sf-dir", SF_DIR, "--db", str(tmp_path / "a.db"),
         "--cpus", "2"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    ) as proc:
        try:
            line = proc.stdout.readline()
            assert line.startswith("serving on http://127.0.0.1:"), line
            port = int(line.rsplit(":", 1)[1])
            status, out = _call(port, "POST", "/run", {"script": """
                QUERY 'N' FROM GLOBAL ( SELECT count(*) AS n FROM nation )
                INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
            """})
            assert status == 200 and out == {"success": True, "output": ['[{"n":25}]']}
            proc.send_signal(signal.SIGINT)
            assert proc.wait(timeout=60) == 0
        finally:
            if proc.poll() is None:
                proc.kill()


def test_job_logs_incremental_poll():
    from analyst_spark.logging import INFO, Event
    from analyst_spark.server import AnalystServer

    release = threading.Event()

    def runner(script, params, stopper=None, logger=None):
        logger.log(Event("BlockA", INFO, "query block started"))
        logger.log(Event("BlockA", INFO, "query block finished"))
        assert release.wait(5)
        logger.log(Event("BlockB", INFO, "query block finished"))
        return ["done"]

    srv = AnalystServer(script_runner=runner)
    _, out = srv.handle("POST", "/run", {"script": "X", "detach": True})
    jid = out["job_id"]
    # first poll: the two BlockA events arrive (wait for the thread)
    deadline = time.monotonic() + 5
    events = []
    while len(events) < 2 and time.monotonic() < deadline:
        _, log1 = srv.handle("GET", f"/jobs/{jid}/logs")
        events = log1["events"]
        time.sleep(0.02)
    assert [e["source"] for e in events] == ["BlockA", "BlockA"]
    assert events[0]["message"] == "query block started"
    cursor = log1["next"]
    release.set()
    srv._jobs[jid]["done"].wait(5)
    # second poll from the cursor: only the new BlockB event
    _, log2 = srv.handle("GET", f"/jobs/{jid}/logs", {"after": cursor})
    assert [e["source"] for e in log2["events"]] == ["BlockB"]
    assert log2["status"] == "succeeded"


def test_sse_stream_over_real_socket():
    import http.client
    import json as _json

    from analyst_spark.logging import INFO, Event
    from analyst_spark.server import AnalystServer, serve

    def runner(script, params, stopper=None, logger=None):
        for i in range(3):
            logger.log(Event(f"Block{i}", INFO, f"block {i} finished"))
            time.sleep(0.05)
        return ["ok"]

    srv = AnalystServer(script_runner=runner)
    httpd = serve(srv, port=0, tick_interval=3600)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        c = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        c.request("POST", "/run",
                  body=_json.dumps({"script": "X", "detach": True}),
                  headers={"Content-Type": "application/json"})
        jid = _json.loads(c.getresponse().read())["job_id"]
        c2 = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        c2.request("GET", f"/jobs/{jid}/stream")
        resp = c2.getresponse()
        assert resp.getheader("Content-Type") == "text/event-stream"
        raw = resp.read().decode()  # server closes at job end
        frames = [f for f in raw.split("\n\n") if f.strip()]
        data = [_json.loads(f.split("data: ", 1)[1])
                for f in frames if f.startswith("data: ")]
        assert [d["source"] for d in data] == ["Block0", "Block1", "Block2"]
        end = [f for f in frames if f.startswith("event: end")]
        assert len(end) == 1 and '"succeeded"' in end[0]
    finally:
        httpd.shutdown()
        httpd._analyst_stop.set()


def test_websocket_stream_over_real_socket():
    """A reference-shaped websocket client (http/main.go:47-84 streams
    logs over gorilla/websocket) connects to the SAME /jobs/<id>/stream
    route with an Upgrade header and receives incremental TEXT frames:
    one per log event (the script sleeps between them, so they arrive
    over time, not in one burst), an end frame, then a clean CLOSE."""
    import base64
    import http.client
    import json as _json
    import os
    import socket

    from analyst_spark import ws
    from analyst_spark.logging import INFO, Event
    from analyst_spark.server import AnalystServer, serve

    def runner(script, params, stopper=None, logger=None):
        for i in range(3):
            logger.log(Event(f"Block{i}", INFO, f"block {i} finished"))
            time.sleep(0.15)  # slow script: frames must arrive incrementally
        return ["ok"]

    srv = AnalystServer(script_runner=runner)
    httpd = serve(srv, port=0, tick_interval=3600)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        c = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        c.request("POST", "/run",
                  body=_json.dumps({"script": "X", "detach": True}),
                  headers={"Content-Type": "application/json"})
        jid = _json.loads(c.getresponse().read())["job_id"]

        key = base64.b64encode(os.urandom(16)).decode()
        sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        sock.sendall(
            f"GET /jobs/{jid}/stream HTTP/1.1\r\n"
            f"Host: 127.0.0.1:{port}\r\n"
            f"Upgrade: websocket\r\n"
            f"Connection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            f"Sec-WebSocket-Version: 13\r\n\r\n".encode()
        )
        rfile = sock.makefile("rb")
        status = rfile.readline().decode()
        assert "101" in status
        headers = {}
        while True:
            line = rfile.readline().decode().strip()
            if not line:
                break
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        # correct RFC 6455 accept digest for our key
        assert headers["sec-websocket-accept"] == ws.accept_key(key)
        assert headers["upgrade"].lower() == "websocket"

        frames, arrival = [], []
        t0 = time.time()
        while True:
            got = ws.recv_frame(rfile)
            if got is None or got[0] == ws.OP_CLOSE:
                break
            frames.append(_json.loads(got[1]))
            arrival.append(time.time() - t0)
        events = [f for f in frames if "source" in f]
        ends = [f for f in frames if f.get("end")]
        assert [e["source"] for e in events] == ["Block0", "Block1", "Block2"]
        assert len(ends) == 1 and ends[0]["status"] == "succeeded"
        # >=2 frames arrived while the job was still running (spaced by
        # the 0.15s sleeps), i.e. genuinely incremental streaming
        assert sum(1 for a in arrival[:3] if a < 0.44) >= 2
        sock.close()
    finally:
        httpd.shutdown()
        httpd._analyst_stop.set()


def test_websocket_client_close_is_honored_mid_stream():
    """A conforming client sends CLOSE mid-job and must receive the
    server's CLOSE reply promptly — the server must not keep the
    handler pinned until the job finishes (RFC 6455 closing
    handshake)."""
    import base64
    import json as _json
    import os
    import socket
    import struct

    from analyst_spark import ws
    from analyst_spark.logging import INFO, Event
    from analyst_spark.server import AnalystServer, serve

    job_release = threading.Event()

    def runner(script, params, stopper=None, logger=None):
        logger.log(Event("B", INFO, "started"))
        job_release.wait(20)  # long-running job
        return ["ok"]

    srv = AnalystServer(script_runner=runner)
    httpd = serve(srv, port=0, tick_interval=3600)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        import http.client

        c = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        c.request("POST", "/run",
                  body=_json.dumps({"script": "X", "detach": True}),
                  headers={"Content-Type": "application/json"})
        jid = _json.loads(c.getresponse().read())["job_id"]

        key = base64.b64encode(os.urandom(16)).decode()
        sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        sock.sendall(
            f"GET /jobs/{jid}/stream HTTP/1.1\r\n"
            f"Host: 127.0.0.1:{port}\r\nUpgrade: websocket\r\n"
            f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
            f"Sec-WebSocket-Version: 13\r\n\r\n".encode()
        )
        rfile = sock.makefile("rb")
        assert "101" in rfile.readline().decode()
        while rfile.readline().strip():
            pass  # drain headers
        # client CLOSE frame (masked, empty payload)
        mask = os.urandom(4)
        sock.sendall(bytes([0x80 | ws.OP_CLOSE, 0x80 | 0]) + mask)
        # server must reply CLOSE within the poll interval, well before
        # the (still running) job completes
        sock.settimeout(5)
        deadline_frames = []
        while True:
            fr = ws.recv_frame(rfile)
            if fr is None:
                break
            deadline_frames.append(fr[0])
            if fr[0] == ws.OP_CLOSE:
                break
        assert ws.OP_CLOSE in deadline_frames
    finally:
        job_release.set()
        httpd._analyst_stop.set()
        httpd.shutdown()
