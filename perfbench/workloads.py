"""The three workloads. Each one generates its inputs from the seed,
sets up (``start``) and tears down (``stop``) the program, runs its
closed loop for a fixed time (``measure``) and checks every output.

An op record is a dict with ``lat`` (seconds), ``ok`` and, per
workload, ``compile`` (seconds) and ``rows``.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import subprocess
import sys
import threading
import time

import numpy as np

import fixtures
import spans
from common import ROOT, WORK, nproc

LAKE_ENTRIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q21_last_to_ship", "lookup_inner", "agg_reducers",
    "aql_lookup_aggregate_pipeline", "events_user_sessions",
    "dedup_lsh_verified", "text_quality", "docs_bm25_topk",
]
# share of TPC-H scale factor 1 the generated lake has
LAKE_SCALE = 0.002


def _fresh_dir(*parts: str) -> str:
    d = os.path.join(WORK, "data", *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


class Workload:
    name = ""
    uses_views = True

    def __init__(self, seed: int, smoke: bool, plant_wrong: bool) -> None:
        self.seed = seed
        self.smoke = smoke
        self.plant_wrong = plant_wrong
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.lake_dir = None
        self.info: dict = {}

    # inputs ------------------------------------------------------------

    def generate(self) -> None:
        if self.uses_views:
            self.lake_dir = _fresh_dir(f"lake-{self.seed}")
            self.dims = fixtures.make_lake(
                self.lake_dir, self.seed, LAKE_SCALE / 10 if self.smoke else LAKE_SCALE
            )
            self.info["lake_scale_factor"] = LAKE_SCALE / 10 if self.smoke else LAKE_SCALE

    # lifecycle -----------------------------------------------------------

    def start(self, spark) -> None:
        self.spark = spark

    def stop(self) -> None:
        pass

    def warm_op(self) -> dict:
        """One op of the workload, the last step of set-up."""
        raise NotImplementedError

    def steady(self) -> list[dict]:
        """Untimed ops that let caches and JIT settle before timing."""
        return []

    def measure(self, seconds: float, max_ops: int, tracer=None) -> list[dict]:
        raise NotImplementedError

    def verify(self, records: list[dict]) -> None:
        """Post-window output checks (outside the timed window)."""


# ------------------------------------------------------------------- etl


class EtlSqlite(Workload):
    """One closed-loop client running load jobs like ``analyst run``:
    each job reads from a SQLite source file and commits into a SQLite
    target file under the job transaction manager."""

    name = "etl_sqlite"
    uses_views = False

    def generate(self) -> None:
        d = _fresh_dir(f"etl-{self.seed}")
        if self.smoke:
            n_fact, n_dim, n_batches = 4_000, 800, 8
        else:
            n_fact, n_dim, n_batches = 100_000, 20_000, 40
        self.fx = fixtures.make_etl(d, self.seed, n_fact, n_dim, n_batches)
        self.n_batches = n_batches
        self.info["etl_rows"] = {"fact": n_fact, "dim": n_dim, "batches": n_batches}
        if self.plant_wrong:
            self.fx["expected"][0]["rows"] += 1
            self.fx["expected"][0]["groups"][0][2] += 1
        self.retries = 0

    def _sleep(self, s: float) -> None:
        self.retries += 1
        time.sleep(s)

    def _check(self, batch: int) -> tuple[bool, int]:
        exp = self.fx["expected"][batch]
        con = sqlite3.connect(self.fx["dst"])
        try:
            n = con.execute("SELECT count(*) FROM sales_enriched").fetchone()[0]
            groups = [list(r) for r in con.execute(
                "SELECT region, n, qty, amount_cents FROM region_totals ORDER BY region"
            )]
        finally:
            con.close()
        return n == exp["rows"] and groups == exp["groups"], n + len(groups)

    def _job(self, batch: int, op_id: str, tracer=None, counter=None) -> dict:
        from analyst_spark.aql import engine
        from analyst_spark.sinks.transaction import JobTransactionManager

        script = fixtures.etl_script(self.fx["src"], self.fx["dst"], batch)
        rec = {"op": op_id, "batch": batch}
        t0 = time.perf_counter()
        engine.validate_script(script)
        t1 = time.perf_counter()
        tx = JobTransactionManager(sleep=self._sleep)
        with spans.op_scope(tracer, counter, op_id, "op"):
            engine.execute_script(self.spark, script, tx_manager=tx)
        t2 = time.perf_counter()
        rec["compile"], rec["lat"] = t1 - t0, t2 - t1
        rec["ok"], rec["rows"] = self._check(batch)
        rec["fetched"] = self.fx["expected"][batch]["fetched"]
        return rec

    def warm_op(self) -> dict:
        return self._job(int(self.rng.integers(0, self.n_batches)), "warm")

    def measure(self, seconds, max_ops, tracer=None):
        counter = spans.SparkCounter(self.spark) if tracer else None
        out = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline and len(out) < max_ops:
            batch = int(self.rng.integers(0, self.n_batches))
            try:
                out.append(self._job(batch, f"job-{len(out)}", tracer, counter))
            except Exception as e:  # noqa: BLE001 - a failed job is a counted failure
                print(f"# etl job failed: {e!r}", file=sys.stderr)
                out.append({"lat": 0.0, "ok": False, "error": True})
        return out


# ---------------------------------------------------------------- server


class ServerJobs(Workload):
    """``server.serve()`` on a localhost port, driven by closed-loop
    clients in a separate load-generator process."""

    name = "server_jobs"

    def generate(self) -> None:
        super().generate()
        n = 40 if self.smoke else 2000
        reqs = fixtures.server_requests(self.seed, n, self.dims)
        if self.plant_wrong:
            first_run = next(r for r in reqs if r["path"] == "/run")
            first_run["expected"] = first_run["expected"] + [{"planted": 1}]
        self.req_file = os.path.join(WORK, "data", f"lake-{self.seed}", "requests.json")
        with open(self.req_file, "w") as fh:
            json.dump(reqs, fh)
        self.clients = min(4, nproc())
        self.info["server_clients"] = self.clients
        self.httpd = None

    def start(self, spark) -> None:
        from analyst_spark import server as srv

        super().start(spark)
        self.counter = None
        self.tracer = None
        self.srv = srv.AnalystServer(script_runner=self._runner)
        self.httpd = srv.serve(self.srv, port=0, tick_interval=3600.0)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def _runner(self, script: str, params: dict) -> list[str]:
        """The script runner the benchmark hands the server: the
        production engine call, plus a job group per op when traced."""
        from analyst_spark.aql import engine

        tracer = self.tracer
        if tracer is None:
            return engine.execute_script(self.spark, script, options=params or None).console
        with tracer.span("server.runner") as attrs, self.counter.group(tracer.op_id(), attrs):
            return engine.execute_script(self.spark, script, options=params or None).console

    def stop(self) -> None:
        if self.httpd is None:
            return
        self.httpd.shutdown()
        self.httpd._analyst_stop.set()
        self.httpd.server_close()
        self.thread.join(timeout=30)
        self.srv.db.close()
        self.httpd = None

    def _load(self, seconds: float, clients: int, max_ops: int, start: int) -> list[dict]:
        cmd = [
            sys.executable, os.path.join(ROOT, "perfbench", "loadgen.py"),
            "--port", str(self.port), "--requests", self.req_file,
            "--seconds", str(seconds), "--clients", str(clients),
            "--max-ops", str(max_ops), "--start", str(start),
        ]
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=seconds + 150, check=False
        )
        if proc.returncode != 0:
            raise RuntimeError(f"load generator failed: {proc.stderr[-2000:]}")
        return json.loads(proc.stdout.strip().splitlines()[-1])

    def warm_op(self) -> dict:
        return self._load(0.0, 1, 1, 0)[0]

    def steady(self) -> list[dict]:
        """Four requests per client after the last set-up, which covers
        every script shape: the first /run of a shape in a new session
        is slower (view files listed, plans compiled), and would
        otherwise land in the window."""
        return self._load(0.0, self.clients, 4 * self.clients, 0)

    def measure(self, seconds, max_ops, tracer=None):
        if tracer is not None:
            self.tracer = tracer
            self.counter = spans.SparkCounter(self.spark)
        try:
            start = 5 * int(self.rng.integers(0, 400))  # a /run at a cycle start
            return self._load(seconds, self.clients, max_ops, start)
        finally:
            self.tracer = self.counter = None


# ------------------------------------------------------------------ lake


class LakeMix(Workload):
    """One closed-loop client running a fixed mix of catalog entries
    through ``__spark_entry__.queries()``, forced by the noop writer.
    Ops are single entries; the loop always finishes the pass it is in,
    so every entry runs equally often."""

    name = "lake_mix"

    def start(self, spark) -> None:
        import __spark_entry__

        super().start(spark)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def _op(self, name: str, tracer=None, counter=None, op_id="") -> dict:
        from analyst_spark.functions.dedup import release_cached

        rec = {"op": op_id, "entry": name, "ok": True}
        fn = self.queries[name]
        module = fn.__module__.rsplit(".", 1)[-1]
        family = "tpch" if module.startswith("tpch") else module
        with spans.op_scope(tracer, counter, op_id, f"plans.{family}"):
            t0 = time.perf_counter()
            df = fn(self.spark, self.lake_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        release_cached(df)
        rec["compile"], rec["lat"] = t1 - t0, t2 - t0
        return rec

    def warm_op(self) -> dict:
        return self._op("agg_reducers", op_id="warm")

    def steady(self) -> list[dict]:
        """One pass that collects every entry and checks it against its
        DuckDB twin; a mismatch marks the entry wrong for the run."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from verify_local import table_hash

        from analyst_spark.functions.dedup import release_cached

        from analyst_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.lake_dir}/{t}.parquet'")
        self.wrong: set[str] = set()
        self.rows: dict[str, int] = {}
        out = []
        for name in LAKE_ENTRIES:
            df = self.queries[name](self.spark, self.lake_dir)
            srows = df.collect()
            cols = [c.lower() for c in df.columns]
            release_cached(df)
            rel = con.sql(self.oracles[name])
            orows = rel.fetchall()
            if self.plant_wrong and name == LAKE_ENTRIES[0]:
                orows = orows[1:]
            good = (
                len(srows) > 0
                and sorted(cols) == sorted(c.lower() for c in rel.columns)
                and table_hash(cols, [tuple(r) for r in srows])
                == table_hash([c.lower() for c in rel.columns], orows)
            )
            if not good:
                print(f"# lake entry {name} does not match its oracle", file=sys.stderr)
                self.wrong.add(name)
            self.rows[name] = len(srows)
            out.append({"entry": name, "ok": good})
        con.close()
        return out

    def measure(self, seconds, max_ops, tracer=None):
        counter = spans.SparkCounter(self.spark) if tracer else None
        out = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline and len(out) < max_ops:
            for name in self.rng.permutation(LAKE_ENTRIES):
                try:
                    rec = self._op(str(name), tracer, counter, f"op-{len(out)}")
                except Exception as e:  # noqa: BLE001 - counted failure
                    print(f"# lake entry {name} failed: {e!r}", file=sys.stderr)
                    rec = {"entry": str(name), "lat": 0.0, "ok": False, "error": True}
                out.append(rec)
        return out

    def verify(self, records):
        for r in records:
            if r.get("entry") in self.wrong:
                r["ok"] = False
            r["rows"] = self.rows.get(r.get("entry"), 0)


WORKLOADS = {w.name: w for w in (EtlSqlite, ServerJobs, LakeMix)}
