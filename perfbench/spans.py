"""In-memory span recorder and the wrappers the traced run installs.

A span is (id, name, start, end, parent id, op id, attrs). Spans nest
per thread: the parent is whatever span the same thread has open.
Wrappers replace public attributes of the program's modules for the
length of the traced phase and put the originals back afterwards; the
program's own code is not changed.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------

    def _stack(self) -> list[tuple[int, dict]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        """Attrs dict of the innermost open span of this thread."""
        stack = self._stack()
        return stack[-1][1] if stack else None

    def op_id(self) -> str | None:
        return getattr(self._local, "op", None)

    @contextlib.contextmanager
    def op(self, op_id: str):
        """Tag every span this thread opens with ``op_id``."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        attrs: dict = {}
        parent = stack[-1][0] if stack else None
        stack.append((sid, attrs))
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append({
                "id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "op": getattr(self._local, "op", None),
                "attrs": attrs,
            })

    # -- patching ------------------------------------------------------

    def patch(self, owner: object, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``after(attrs,
        args, result)`` may record counts on the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as attrs:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(attrs, args, result)
                return result

        wrapper.__wrapped__ = orig
        for k, v in getattr(orig, "__dict__", {}).items():
            setattr(wrapper, k, v)  # e.g. source.executes_sql markers
        self.patch(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> tuple[dict[int, float], list[str]]:
    """Self time per span id (duration minus the union of its
    children's intervals) and a list of nesting violations: a child
    that starts before or ends after its parent, or a negative self
    time."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[int, float] = {}
    problems: list[str] = []
    for s in spans:
        covered = 0.0
        edge = s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            if c["start"] < s["start"] or c["end"] > s["end"]:
                problems.append(f"{c['name']} outside parent {s['name']}")
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
        if out[s["id"]] < 0:
            problems.append(f"negative self time in {s['name']}")
    for s in spans:
        if s["parent"] is not None and s["parent"] not in by_id:
            problems.append(f"{s['name']} has an unrecorded parent")
    return out, problems


def summarize(spans: list[dict]) -> dict[str, dict]:
    """Per span name: number of spans, inclusive and self seconds, and
    summed attrs."""
    selfs, _ = self_times(spans)
    out: dict[str, dict] = defaultdict(
        lambda: {"n": 0, "incl_s": 0.0, "self_s": 0.0, "attrs": defaultdict(float)}
    )
    for s in spans:
        rec = out[s["name"]]
        rec["n"] += 1
        rec["incl_s"] += s["end"] - s["start"]
        rec["self_s"] += selfs[s["id"]]
        for k, v in s["attrs"].items():
            if isinstance(v, (int, float)):
                rec["attrs"][k] += v
    return out


# --------------------------------------------------------------- probes


def install_aql(tracer: Tracer) -> None:
    """Spans around the AQL layers: parse, validate, execute, the
    executor, DATA literals, console sinks, SQLite connections and the
    job transaction manager."""
    from pyspark.sql import SparkSession

    from analyst_spark.aql import connections, engine
    from analyst_spark.sinks import transaction

    tracer.wrap(engine, "parse_script", "aql.parser.parse")
    tracer.wrap(engine, "validate_script", "aql.engine.validate")
    tracer.wrap(engine, "execute_script", "aql.engine.execute")

    def count_blocks(attrs, args, _res):
        attrs["blocks"] = sum(
            1 for b in args[1]
            if b.kind in ("query", "exec", "data", "transform", "test")
        )

    tracer.wrap(engine.Executor, "run", "aql.engine.run", count_blocks)
    tracer.wrap(engine, "literal_source", "sources.literal")

    def count_console(attrs, args, text):
        try:
            attrs["rows"] = len(json.loads(text))
        except ValueError:
            attrs["rows"] = max(0, text.count("\n") - 4)  # table format

    tracer.wrap(engine, "console_sink", "sinks.console", count_console)

    tracer.wrap(connections.SQLiteConnection, "source", "aql.connections.source")
    tracer.wrap(connections.SQLiteConnection, "write", "aql.connections.write")
    tracer.wrap(connections.SQLiteConnection, "exec_", "aql.connections.exec")
    tracer.wrap(transaction.JobTransactionManager, "commit", "sinks.transaction.commit")

    def count_rollback(attrs, _args, _res):
        attrs["rollbacks"] = 1

    tracer.wrap(transaction.JobTransactionManager, "rollback",
                "sinks.transaction.rollback", count_rollback)

    # row counts, taken where the rows cross into and out of Spark
    create = SparkSession.createDataFrame

    def counting_create(self, data, *args, **kwargs):
        cur = tracer.current()
        if cur is not None and isinstance(data, list):
            cur["rows"] = cur.get("rows", 0) + len(data)
        return create(self, data, *args, **kwargs)

    tracer.patch(SparkSession, "createDataFrame", counting_create)


def install_to_local_iterator(tracer: Tracer, df_class: type) -> None:
    """Count the rows each connection write pulls back from Spark."""
    orig = df_class.toLocalIterator

    def counting(self, *args, **kwargs):
        cur = tracer.current()
        for row in orig(self, *args, **kwargs):
            if cur is not None:
                cur["rows"] = cur.get("rows", 0) + 1
            yield row

    tracer.patch(df_class, "toLocalIterator", counting)


def install_server(tracer: Tracer, server_cls: type, op_ids) -> None:
    """One op per request: the handle span is the root of everything
    the request does on the server."""
    orig = server_cls.handle

    def handle(self, method, path, body=None):
        with tracer.op(f"req-{next(op_ids)}"):
            with tracer.span("server.handle") as attrs:
                status, payload = orig(self, method, path, body)
                attrs["requests"] = 1
                failed = status != 200 or (
                    isinstance(payload, dict) and payload.get("success") is False
                )
                attrs["errors"] = 1 if failed else 0
                attrs["run"] = 1 if path.rstrip("/") == "/run" else 0
                return status, payload

    tracer.patch(server_cls, "handle", handle)


@contextlib.contextmanager
def op_scope(tracer: Tracer | None, counter: "SparkCounter | None", op_id: str, name: str):
    """Root span and Spark job group of one op; nothing when untraced."""
    if tracer is None:
        yield None
        return
    with tracer.op(op_id), tracer.span(name) as attrs, counter.group(op_id, attrs):
        yield attrs


class SparkCounter:
    """Spark job, stage and task counts per operation: the benchmark
    tags each op's actions with its own job group and reads the status
    tracker afterwards."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    @contextlib.contextmanager
    def group(self, group_id: str, attrs: dict):
        self.sc.setJobGroup(group_id, "perfbench op")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = self.tracker.getJobIdsForGroup(group_id)
            stages = tasks = 0
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
            attrs["spark_jobs"] = len(jobs)
            attrs["spark_stages"] = stages
            attrs["spark_tasks"] = tasks
