"""HTTP API server — the reference's web surface re-expressed as
JSON-over-REST (http/main.go:142-199 routes; task_handler.go;
models/task.go, models/invocation.go; db.go).

Surface parity:

* Task CRUD + invocation history, identical routes and JSON field
  names (``scheduled_to_start_at`` etc. — models/invocation.go:8-17).
* Scheduler integration: the server owns a
  :class:`analyst_spark.scheduling.scheduler.Scheduler` and a tick
  loop (``runSchedulerForever``, main.go:203-210, 5 s interval);
  tasks created/enabled/disabled through the API take effect on the
  next tick, and every invocation is persisted.
* Script execution: the reference runs RUN/COMPILE as websocket
  messages (main.go:47-100: MsgRunScript → ExecuteString,
  MsgCompileScript → ValidateString, replies RESULT/OUTPUT/LOG).
  Here they are ``POST /run`` and ``POST /compile`` returning the
  same payload vocabulary (``success``/``error`` plus the console
  ``output`` lines) in one JSON body — request/response instead of a
  socket; the message semantics are unchanged.
* Persistence: stdlib sqlite3 standing in for gorm-on-sqlite
  (db.go:9-16 MigrateDb). Tasks are loaded and ``repair()``-ed on
  startup, matching the reference's recovery path
  (scheduler.go:43-85).

Out of scope (SURVEY §3.3): the packr static UI and git repository
management — deployment conveniences with no analytics semantics.

The request handling is socket-free (``handle(method, path, body)``)
so tests drive it directly; ``serve()`` adapts it onto
``ThreadingHTTPServer``.
"""

from __future__ import annotations

import json
import re
import sqlite3
import threading
from dataclasses import dataclass, field
from datetime import datetime
from typing import Callable

from analyst_spark.scheduling.scheduler import Invocation, Scheduler, Task

SCHEDULER_INTERVAL_SECS = 5.0  # main.go:31

_SCHEMA = """
CREATE TABLE IF NOT EXISTS tasks (
    id INTEGER PRIMARY KEY,
    name TEXT NOT NULL,
    schedule TEXT NOT NULL,
    command TEXT NOT NULL DEFAULT '',
    arguments TEXT NOT NULL DEFAULT '',
    enabled INTEGER NOT NULL DEFAULT 1,
    coalesce_runs INTEGER NOT NULL DEFAULT 0,
    next_run TEXT
);
CREATE TABLE IF NOT EXISTS invocations (
    id INTEGER PRIMARY KEY AUTOINCREMENT,
    task_id INTEGER NOT NULL REFERENCES tasks(id),
    scheduled_at TEXT,
    start TEXT,
    finish TEXT,
    success INTEGER NOT NULL DEFAULT 0,
    error_message TEXT NOT NULL DEFAULT '',
    log TEXT NOT NULL DEFAULT ''
);
CREATE INDEX IF NOT EXISTS ix_invocation_time
    ON invocations (task_id, scheduled_at);
"""


def _iso(t: datetime | None) -> str | None:
    return t.isoformat() if t is not None else None


def _task_json(t: Task) -> dict:
    return {
        "id": t.id,
        "name": t.name,
        "schedule": t.schedule,
        "command": t.command,
        "arguments": t.arguments,
        "enabled": t.enabled,
        "coalesce": t.coalesce,
        "next_run": _iso(t.next_run),
    }


def _invocation_json(i: Invocation, inv_id: int) -> dict:
    # field names from models/invocation.go json tags
    return {
        "id": inv_id,
        "task_id": i.task_id,
        "scheduled_to_start_at": _iso(i.scheduled_at),
        "started_at": _iso(i.start),
        "finished_at": _iso(i.finish),
        "success": i.success,
        "error_message": i.error_message,
        "log": i.log,
    }


class HTTPError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


@dataclass
class AnalystServer:
    """Route logic + persistence; one instance per server process.

    ``script_runner(script, params) -> list[str]`` executes an AQL
    script and returns its console output (raise to signal failure) —
    injected so tests run without a SparkSession and production wires
    ``execute_script``. ``task_runner`` is the scheduler's runner for
    scheduled tasks (same contract as Scheduler.runner).
    """

    script_runner: Callable[[str, dict], list[str]]
    db_path: str = ":memory:"
    clock: Callable[[], datetime] = datetime.now
    task_runner: Callable[[Task, str], str] | None = None

    def __post_init__(self):
        # Lock contract: ``_lock`` guards server state only — the
        # scheduler (its tasks and invocations), the ``db`` handle and
        # detached-job id allocation (``_next_job_id``, ``_jobs``).
        # Script execution never holds it: synchronous and detached
        # /run jobs and /compile run concurrently on the shared
        # SparkSession, each with its own Executor and GlobalStore;
        # their isolation rests on globals_store.VIEW_LOCK, which
        # serializes every temp-view register → spark.sql window.
        # (A scheduler tick still runs its due tasks under ``_lock``.)
        self._lock = threading.RLock()
        self.db = sqlite3.connect(self.db_path, check_same_thread=False)
        self.db.executescript(_SCHEMA)
        runner = self.task_runner or self._run_task_command
        self.scheduler = Scheduler(runner=runner, clock=self.clock)
        self._n_persisted_invocations = 0
        # cancellation registries (engine/stopper.go analog): detached
        # /run jobs and in-flight scheduled tasks, stoppable without
        # the main lock (a scheduler tick holds it while tasks run)
        self._jobs: dict[int, dict] = {}
        self._next_job_id = 1
        self._task_stoppers: dict[int, object] = {}
        self._load_tasks()

    # -- persistence ---------------------------------------------------

    def _load_tasks(self) -> None:
        """Startup recovery: load tasks, recompute next runs from the
        invocation history (scheduler.go:43-85 repair path)."""
        cur = self.db.execute(
            "SELECT id, name, schedule, command, arguments, enabled,"
            " coalesce_runs, next_run FROM tasks"
        )
        for (tid, name, sched, cmd, args, enabled, coal, next_run) in cur:
            t = Task(
                id=tid, name=name, schedule=sched, command=cmd,
                arguments=args, enabled=bool(enabled), coalesce=bool(coal),
                next_run=datetime.fromisoformat(next_run) if next_run else None,
            )
            self.scheduler.tasks[t.id] = t
        for i in self.db.execute(
            "SELECT task_id, scheduled_at, start, finish, success,"
            " error_message, log FROM invocations ORDER BY id"
        ):
            self.scheduler.invocations.append(
                Invocation(
                    task_id=i[0],
                    scheduled_at=datetime.fromisoformat(i[1]) if i[1] else None,
                    start=datetime.fromisoformat(i[2]) if i[2] else None,
                    finish=datetime.fromisoformat(i[3]) if i[3] else None,
                    success=bool(i[4]), error_message=i[5], log=i[6],
                )
            )
        self._n_persisted_invocations = len(self.scheduler.invocations)
        if self.scheduler.tasks:
            self.scheduler.repair(self.clock())
            self._save_all_tasks()

    def _save_task(self, t: Task) -> None:
        self.db.execute(
            "INSERT INTO tasks (id, name, schedule, command, arguments,"
            " enabled, coalesce_runs, next_run)"
            " VALUES (?, ?, ?, ?, ?, ?, ?, ?)"
            " ON CONFLICT(id) DO UPDATE SET name=excluded.name,"
            " schedule=excluded.schedule, command=excluded.command,"
            " arguments=excluded.arguments, enabled=excluded.enabled,"
            " coalesce_runs=excluded.coalesce_runs, next_run=excluded.next_run",
            (t.id, t.name, t.schedule, t.command, t.arguments,
             int(t.enabled), int(t.coalesce), _iso(t.next_run)),
        )
        self.db.commit()

    def _save_all_tasks(self) -> None:
        for t in self.scheduler.tasks.values():
            self._save_task(t)

    def _persist_new_invocations(self) -> None:
        new = self.scheduler.invocations[self._n_persisted_invocations:]
        for i in new:
            self.db.execute(
                "INSERT INTO invocations (task_id, scheduled_at, start,"
                " finish, success, error_message, log)"
                " VALUES (?, ?, ?, ?, ?, ?, ?)",
                (i.task_id, _iso(i.scheduled_at), _iso(i.start),
                 _iso(i.finish), int(i.success), i.error_message, i.log),
            )
        if new:
            self.db.commit()
        self._n_persisted_invocations = len(self.scheduler.invocations)

    # -- scheduler -----------------------------------------------------

    def tick(self, now: datetime | None = None) -> list[Task]:
        """One scheduler pass (runSchedulerForever body, main.go:203-210);
        persists whatever state the pass changed."""
        with self._lock:
            ran = self.scheduler.tick(now)
            self._persist_new_invocations()
            self._save_all_tasks()
            return ran

    def _run_task_command(self, task: Task, args: str) -> str:
        """Default task runner: task.command is an AQL script path —
        the reference shells out to `analyst run --script <command>
        --params <args>` (scheduler.go:192). Each run registers a
        Stopper so POST /tasks/<id>/stop can cancel it mid-flight."""
        from analyst_spark.stopper import Stopper

        with open(task.command) as f:
            script = f.read()
        params = json.loads(args) if args else {}
        stopper = Stopper()
        self._task_stoppers[task.id] = stopper
        try:
            return "\n".join(self._call_runner(script, params, stopper))
        finally:
            self._task_stoppers.pop(task.id, None)

    def _call_runner(self, script: str, params: dict, stopper, logger=None):
        """Invoke script_runner, passing stopper/logger only when the
        runner's signature takes them (injected 2-arg test runners
        keep working unchanged)."""
        import inspect

        kwargs = {}
        try:
            sig = inspect.signature(self.script_runner)
            has_kw = any(p.kind is inspect.Parameter.VAR_KEYWORD
                         for p in sig.parameters.values())
            if "stopper" in sig.parameters or has_kw:
                kwargs["stopper"] = stopper
            if logger is not None and ("logger" in sig.parameters or has_kw):
                kwargs["logger"] = logger
        except (TypeError, ValueError):
            pass
        return self.script_runner(script, params, **kwargs)

    # -- routing -------------------------------------------------------

    def handle(self, method: str, path: str, body: dict | None = None):
        """Dispatch one request; returns (status, json-serializable).
        Routes mirror main.go:160-175."""
        body = body or {}
        method, path = method.upper(), path.rstrip("/")
        try:
            # script and job routes bypass the main lock (see the lock
            # contract in __post_init__): /run and /compile execute
            # concurrently, and a stop must land while a scheduler
            # tick holds the lock
            if (method, path) == ("POST", "/run"):
                return self._run_script(body)
            if (method, path) == ("POST", "/compile"):
                return self._compile_script(body)
            m = re.fullmatch(r"/(jobs|tasks)/(\d+)/stop", path)
            if method == "POST" and m:
                if m.group(1) == "jobs":
                    return self._stop_job(int(m.group(2)))
                return self._stop_task(int(m.group(2)))
            m = re.fullmatch(r"/jobs/(\d+)", path)
            if method == "GET" and m:
                return self._job_status(int(m.group(1)))
            m = re.fullmatch(r"/jobs/(\d+)/logs", path)
            if method == "GET" and m:
                return self._job_logs(int(m.group(1)),
                                      int(body.get("after", 0)))
            with self._lock:
                return self._route(method, path, body)
        except HTTPError as e:
            return e.status, {"error": str(e)}
        except (ValueError, KeyError) as e:
            return 400, {"error": str(e)}

    def _route(self, method: str, path: str, body: dict):
        if (method, path) == ("GET", "/tasks"):
            return 200, [_task_json(t) for t in
                         sorted(self.scheduler.tasks.values(), key=lambda t: t.id)]
        if (method, path) == ("POST", "/tasks"):
            return self._create_task(body)
        if (method, path) == ("GET", "/invocations"):
            limit = int(body.get("limit", 50))
            out = [
                _invocation_json(i, n + 1)
                for n, i in enumerate(self.scheduler.invocations)
            ]
            return 200, out[-limit:][::-1]  # newest first (db.go:24-28)

        m = re.fullmatch(r"/tasks/(\d+)(/[a-z-]+)?", path)
        if not m:
            raise HTTPError(404, f"no route for {method} {path}")
        tid, action = int(m.group(1)), m.group(2)
        task = self.scheduler.tasks.get(tid)
        if task is None:
            raise HTTPError(404, f"no task with id {tid}")
        if method == "PUT" and action == "/enable":
            self.scheduler.enable(tid, self.clock())
            self._save_task(task)
            return 200, _task_json(task)
        if method == "PUT" and action == "/disable":
            self.scheduler.disable(tid)
            self._save_task(task)
            return 200, _task_json(task)
        if method == "PUT" and action is None:
            return self._update_task(task, body)
        if method == "DELETE" and action is None:
            del self.scheduler.tasks[tid]
            self.db.execute("DELETE FROM tasks WHERE id = ?", (tid,))
            self.db.commit()
            return 200, {"deleted": tid}
        if method == "GET" and action == "/invocations":
            out = [
                _invocation_json(i, n + 1)
                for n, i in enumerate(self.scheduler.invocations)
                if i.task_id == tid
            ]
            return 200, out[::-1]
        if method == "GET" and action == "/last-invocation":
            for n in range(len(self.scheduler.invocations) - 1, -1, -1):
                i = self.scheduler.invocations[n]
                if i.task_id == tid:
                    return 200, _invocation_json(i, n + 1)
            raise HTTPError(404, f"task {tid} has no invocations")
        raise HTTPError(404, f"no route for {method} {path}")

    def _create_task(self, body: dict):
        for k in ("name", "schedule"):
            if not body.get(k):
                raise HTTPError(400, f"missing required field {k!r}")
        tid = body.get("id") or (max(self.scheduler.tasks, default=0) + 1)
        if tid in self.scheduler.tasks:
            raise HTTPError(409, f"task id {tid} already exists")
        t = Task(
            id=tid, name=body["name"], schedule=body["schedule"],
            command=body.get("command", ""),
            arguments=body.get("arguments", ""),
            enabled=bool(body.get("enabled", True)),
            coalesce=bool(body.get("coalesce", False)),
        )
        t.next_invocation(self.clock())  # validate the schedule up front
        self.scheduler.add(t, self.clock())
        self._save_task(t)
        return 201, _task_json(t)

    def _update_task(self, task: Task, body: dict):
        for k in ("name", "schedule", "command", "arguments"):
            if k in body:
                setattr(task, k, body[k])
        if "coalesce" in body:
            task.coalesce = bool(body["coalesce"])
        if "schedule" in body:
            task.next_run = task.next_invocation(self.clock())
        self._save_task(task)
        return 200, _task_json(task)

    def _run_script(self, body: dict):
        """POST /run — MsgRunScript (main.go:60-75): execute, reply
        success/error; console output rides along as OUTPUT did.
        ``detach: true`` runs in a worker thread and returns a job id
        that GET /jobs/<id> polls and POST /jobs/<id>/stop cancels —
        the reference's context-cancellation path
        (coordinator.go:277-413) reached over REST."""
        script = body.get("script")
        if not script:
            raise HTTPError(400, "missing required field 'script'")
        if body.get("detach"):
            return self._start_detached(script, body.get("params") or {})
        try:
            output = self.script_runner(script, body.get("params") or {})
        except Exception as e:  # RunResponse carries the error, not a 5xx
            return 200, {"success": False, "error": str(e)}
        return 200, {"success": True, "output": output}

    # -- detached jobs + cancellation ----------------------------------

    def _start_detached(self, script: str, params: dict):
        from analyst_spark.logging import CollectingLogger
        from analyst_spark.stopper import JobInterrupted, Stopper

        with self._lock:
            jid = self._next_job_id
            self._next_job_id += 1
            job = self._jobs[jid] = {
                "id": jid, "status": "running", "output": None,
                "error": None, "stopper": Stopper(),
                "logger": CollectingLogger(), "done": threading.Event(),
            }

        def work():
            try:
                out = self._call_runner(
                    script, params, job["stopper"], logger=job["logger"]
                )
                job["status"], job["output"] = "succeeded", list(out)
            except JobInterrupted as e:
                job["status"], job["error"] = "interrupted", str(e)
            except Exception as e:
                job["status"], job["error"] = "failed", str(e)
            finally:
                job["done"].set()

        threading.Thread(target=work, daemon=True).start()
        return 202, {"job_id": jid, "status": "running"}

    def _job_record(self, jid: int) -> dict:
        job = self._jobs.get(jid)
        if job is None:
            raise HTTPError(404, f"no job with id {jid}")
        return job

    def _job_status(self, jid: int):
        job = self._job_record(jid)
        return 200, {
            "job_id": jid, "status": job["status"],
            "output": job["output"], "error": job["error"],
        }

    def _job_logs(self, jid: int, after: int = 0):
        """GET /jobs/<id>/logs — incremental poll of block-level
        events; ``after`` is the cursor from the previous poll's
        ``next`` (the REST face of the reference's MsgLog stream)."""
        job = self._job_record(jid)
        events = job["logger"].after(after)
        return 200, {
            "job_id": jid, "status": job["status"], "events": events,
            "next": after + len(events),
        }

    def _stop_job(self, jid: int):
        job = self._job_record(jid)
        job["stopper"].stop()
        return 200, {"job_id": jid, "stopping": True,
                     "status": job["status"]}

    def _stop_task(self, tid: int):
        stopper = self._task_stoppers.get(tid)
        if stopper is None:
            raise HTTPError(404, f"task {tid} has no running invocation")
        stopper.stop()
        return 200, {"task_id": tid, "stopping": True}

    def _compile_script(self, body: dict):
        """POST /compile — MsgCompileScript (main.go:76-90):
        ValidateString, no execution."""
        from analyst_spark.aql.engine import validate_script

        script = body.get("script")
        if not script:
            raise HTTPError(400, "missing required field 'script'")
        try:
            n = validate_script(script, body.get("params") or {})
        except Exception as e:
            return 200, {"success": False, "error": str(e)}
        return 200, {"success": True, "blocks": n}


def _drain_nonblocking(connection, rfile, recv_buf: bytearray) -> bool:
    """Move every byte already available — rfile's read-ahead buffer
    (filled during the HTTP handshake) PLUS the kernel socket queue —
    into recv_buf without blocking. select() alone can't see the
    rfile buffer, so a frame pulled in by readline()'s read-ahead
    would otherwise sit invisible until more bytes arrive; ``read1``
    on a zero-timeout socket returns buffered bytes first, then
    pending bytes, then b''. Returns False on EOF — and ONLY on a
    true EOF: b'' from a socket select() reported readable. ``read1``
    may instead return None on a spurious would-block even when
    select reported readable (the readiness can evaporate between the
    two calls); that is NOT EOF and must not close a healthy
    session."""
    import select

    connection.settimeout(0.0)
    try:
        while True:
            readable = select.select([connection], [], [], 0)[0]
            try:
                chunk = rfile.read1(65536)
            except (BlockingIOError, InterruptedError):
                chunk = None
            if chunk:
                recv_buf.extend(chunk)
                continue
            if chunk is None:
                return True  # would-block, not EOF
            return not readable
    finally:
        connection.settimeout(None)


def serve(server: AnalystServer, port: int = 4040, tick_interval: float = SCHEDULER_INTERVAL_SECS):
    """Blocking socket adapter: ThreadingHTTPServer over
    AnalystServer.handle plus the scheduler tick thread
    (main.go:186-199, :203-210). Returns the httpd so callers can
    shutdown()."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def _dispatch(self):
            m = re.fullmatch(r"/jobs/(\d+)/stream", self.path.rstrip("/"))
            if self.command == "GET" and m:
                return self._stream_logs(int(m.group(1)))
            length = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(length) if length else b""
            try:
                body = json.loads(raw) if raw else {}
            except json.JSONDecodeError:
                status, payload = 400, {"error": "invalid JSON body"}
            else:
                status, payload = server.handle(self.command, self.path, body)
            data = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _stream_logs(self, jid: int):
            """GET /jobs/<id>/stream — incremental log stream: one
            frame per log event while the job runs, then an `end`
            frame carrying the final status. Served two ways from the
            same route: server-sent events by default, or a real
            websocket when the client sends an Upgrade header — the
            transport the reference uses for its MsgLog stream
            (http/main.go:47-84), so a reference-shaped websocket
            client connects unchanged."""
            from analyst_spark import ws

            job = server._jobs.get(jid)
            if job is None:
                self.send_response(404)
                self.end_headers()
                return
            if ws.is_upgrade_request(self.headers):
                return self._stream_logs_ws(job)
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            cursor = 0
            try:
                while True:
                    for ev in job["logger"].after(cursor):
                        cursor += 1
                        self.wfile.write(
                            b"data: " + json.dumps(ev).encode() + b"\n\n"
                        )
                    self.wfile.flush()
                    if job["done"].is_set():
                        # drain anything logged between poll and done
                        for ev in job["logger"].after(cursor):
                            cursor += 1
                            self.wfile.write(
                                b"data: " + json.dumps(ev).encode() + b"\n\n"
                            )
                        self.wfile.write(
                            b"event: end\ndata: "
                            + json.dumps({"status": job["status"]}).encode()
                            + b"\n\n"
                        )
                        self.wfile.flush()
                        return
                    job["done"].wait(0.2)
            except (BrokenPipeError, ConnectionResetError):
                return  # client went away; job keeps running

        def _stream_logs_ws(self, job: dict):
            """Websocket variant of the log stream: RFC 6455 opening
            handshake, one TEXT frame per log event, an end frame with
            the final status, then a clean CLOSE."""
            from analyst_spark import ws

            key = self.headers.get("Sec-WebSocket-Key")
            if not key:
                self.send_response(400)
                self.end_headers()
                return
            self.send_response(101, "Switching Protocols")
            self.send_header("Upgrade", "websocket")
            self.send_header("Connection", "Upgrade")
            self.send_header("Sec-WebSocket-Accept", ws.accept_key(key))
            self.end_headers()
            self.close_connection = True
            cursor = 0
            recv_buf = bytearray()

            def drain_pending() -> bool:
                return _drain_nonblocking(
                    self.connection, self.rfile, recv_buf
                )

            def client_frames():
                """Handle every complete client frame buffered so
                far; honors CLOSE (reply + stop) and PING (PONG).
                Incomplete frames stay in recv_buf — never blocks."""
                if not drain_pending():
                    return False  # EOF
                while True:
                    fr = ws.parse_frame(recv_buf)
                    if fr is None:
                        return True
                    op, payload = fr
                    if op == ws.OP_CLOSE:
                        ws.send_frame(self.wfile, payload, ws.OP_CLOSE)
                        return False
                    if op == ws.OP_PING:
                        ws.send_frame(self.wfile, payload, ws.OP_PONG)

            try:
                while True:
                    if not client_frames():
                        return  # client closed mid-stream; job keeps running
                    for ev in job["logger"].after(cursor):
                        cursor += 1
                        ws.send_frame(self.wfile, json.dumps(ev))
                    if job["done"].is_set():
                        for ev in job["logger"].after(cursor):
                            cursor += 1
                            ws.send_frame(self.wfile, json.dumps(ev))
                        ws.send_frame(
                            self.wfile,
                            json.dumps({"end": True,
                                        "status": job["status"]}),
                        )
                        ws.send_frame(self.wfile, b"", ws.OP_CLOSE)
                        return
                    job["done"].wait(0.2)
            except (BrokenPipeError, ConnectionResetError):
                return  # client went away; job keeps running

        do_GET = do_POST = do_PUT = do_DELETE = _dispatch

        def log_message(self, *a):  # quiet; the reference logs via echo
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    stop = threading.Event()

    def tick_forever():
        while not stop.wait(tick_interval):
            try:
                server.tick()
            except Exception:
                pass  # scheduler errors are logged, never fatal (main.go:206-208)

    t = threading.Thread(target=tick_forever, daemon=True)
    t.start()
    httpd._analyst_stop = stop  # let shutdown() also stop the ticker
    return httpd


def spark_script_runner(spark, sf_dir: str | None = None):
    """Production script_runner: execute through the AQL engine on a
    live session. With sf_dir, each run re-registers the lake tables
    and hands them to the job as its base GLOBAL views, so a
    concurrent job's same-named GLOBAL table cannot shadow them."""
    from analyst_spark.aql.engine import execute_script
    from analyst_spark.aql.globals_store import VIEW_LOCK
    from analyst_spark.tables import TABLE_NAMES, load_tables

    def run(script: str, params: dict, stopper=None, logger=None) -> list[str]:
        views = None
        if sf_dir:
            tables = load_tables(spark, sf_dir)
            views = {name: tables[name] for name in TABLE_NAMES}
            with VIEW_LOCK:  # footers were read above, outside the lock
                for name, df in views.items():
                    df.createOrReplaceTempView(name)
        return execute_script(
            spark, script, options=params or None, stopper=stopper,
            logger=logger, views=views,
        ).console

    return run
