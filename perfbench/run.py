"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {etl_sqlite,server_jobs,lake_mix} \
        --seed N --seconds S --trace {0,1} [--smoke] [--plant-wrong]

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/``; the program is imported from the checkout.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (half the window untraced, half traced, so the tracing
overhead is reported too). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md in
this directory for what each metric means and which layer metric
should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import spans  # noqa: E402
from common import median, tail  # noqa: E402

N_SETUPS = 3
MAX_OPS_SMOKE = 3


def end_to_end(wl, recs: list[dict], window: float, setups: list[float], info: dict) -> dict:
    def m(v, unit):
        return {"value": v, "unit": unit}

    done = [r for r in recs if not r.get("error")]
    if wl.name == "server_jobs":
        runs = [r for r in done if r["path"] == "/run"]
        comp = [r["lat"] for r in done if r["path"] == "/compile"]
        span_s = max(r["recv"] for r in done) - min(r["send"] for r in done)
        ops_per_s = len(runs) / span_s
    else:
        runs = done
        comp = [r["compile"] for r in done]
        ops_per_s = len(runs) / window
    lats = [r["lat"] for r in runs]
    pct, tail_v = tail(lats)
    info["op_samples"] = len(lats)
    info["op_tail_percentile"] = pct
    # too few and too widely spread samples for a bound (a /compile waits
    # behind whole /run jobs), so it is printed but not a bounded metric
    info["compile_p50_s"] = f"{median(comp):.6f} s (n={len(comp)})"
    if wl.name == "lake_mix":
        per_entry: dict[str, list[float]] = {}
        for r in runs:
            per_entry.setdefault(r["entry"], []).append(r["lat"])
        info["pass_s_from_entry_medians"] = round(sum(median(v) for v in per_entry.values()), 4)
    return {
        "setup_s": m(median(setups), "s"),
        "op_p50_s": m(median(lats), "s"),
        "op_tail_s": m(tail_v, "s"),
        "ops_per_s": m(ops_per_s, "1/s"),
        "rows_per_s": m(sum(r["rows"] for r in runs) / sum(lats), "rows/s"),
    }


def per_layer(wl, tracer, untraced: list[dict], traced: list[dict], setup_parts: dict) -> dict:
    summ = spans.summarize(tracer.spans)

    def g(name, key="incl_s"):
        return summ[name][key] if name in summ else 0.0

    def a(name, attr):
        return summ[name]["attrs"].get(attr, 0.0) if name in summ else 0.0

    def lat_p50(recs):
        if wl.name == "server_jobs":
            recs = [r for r in recs if r["path"] == "/run"]
        return median([r["lat"] for r in recs if not r.get("error")])

    if wl.name == "server_jobs":
        n_ops = max(1, sum(1 for r in traced if r["path"] == "/run"))
    else:
        n_ops = max(1, len(traced))
    n_pass = max(1, len(traced) / 11) if wl.name == "lake_mix" else n_ops
    group = "server.runner" if wl.name == "server_jobs" else (
        "op" if wl.name == "etl_sqlite" else None)
    group_names = [group] if group else [n for n in summ if n.startswith("plans.")]
    jobs = sum(a(n, "spark_jobs") for n in group_names)
    stages = sum(a(n, "spark_stages") for n in group_names)
    tasks = sum(a(n, "spark_tasks") for n in group_names)
    fetched = a("aql.connections.source", "rows")
    written = a("aql.connections.write", "rows")
    n_req = g("server.handle", "n")

    def c(v, unit="count"):
        return {"value": v, "unit": unit}

    def s(v):
        return {"value": v, "unit": "s"}

    p50_u, p50_t = lat_p50(untraced), lat_p50(traced)
    out = {
        "session.get_spark_s": s(setup_parts["get_spark"]),
        "tables.register_views_s": s(setup_parts["register_views"]),
        "aql.connections.source_s": s(g("aql.connections.source") / n_ops),
        "aql.connections.source_rows": c(fetched / n_ops),
        "aql.connections.write_s": s(g("aql.connections.write") / n_ops),
        "aql.connections.write_rows": c(written / n_ops),
        "aql.connections.exec_s": s(g("aql.connections.exec") / n_ops),
        "aql.connections.committed_per_fetched": c(written / fetched if fetched else 0.0, "ratio"),
        "sinks.transaction.commit_s": s(g("sinks.transaction.commit") / n_ops),
        "sinks.transaction.retries": c(getattr(wl, "retries", 0) / n_ops),
        "sinks.transaction.rollbacks": c(a("sinks.transaction.rollback", "rollbacks") / n_ops),
        "server.handle_s": s(g("server.handle") / n_req if n_req else 0.0),
        "server.lock_wait_s": s(g("server.handle", "self_s") / n_req if n_req else 0.0),
        "server.requests": c(n_req),
        "server.errors": c(a("server.handle", "errors")),
        "aql.parser.parse_s": s(g("aql.parser.parse") / n_ops),
        "aql.engine.validate_s": s(g("aql.engine.validate") / n_ops),
        "aql.engine.execute_s": s(g("aql.engine.execute") / n_ops),
        "aql.engine.self_s": s(
            (g("aql.engine.execute", "self_s") + g("aql.engine.run", "self_s")) / n_ops),
        "aql.engine.blocks_per_op": c(a("aql.engine.run", "blocks") / n_ops),
        "sources.literal_s": s(g("sources.literal") / n_ops),
        "sinks.console_s": s(g("sinks.console") / n_ops),
        "sinks.console_rows": c(a("sinks.console", "rows") / n_ops),
        "spark.jobs_per_op": c(jobs / n_ops),
        "spark.stages_per_op": c(stages / n_ops),
        "spark.tasks_per_op": c(tasks / n_ops),
    }
    if wl.name == "lake_mix":
        for fam in ("tpch", "reference_ops", "aql_plans", "events_plans", "text_plans",
                    "pipeline_plans"):
            out[f"plans.{fam}_s"] = s(g(f"plans.{fam}", "self_s") / n_pass)
    out["trace.op_p50_untraced_s"] = s(p50_u)
    out["trace.op_p50_traced_s"] = s(p50_t)
    out["trace.overhead_ratio"] = c(p50_t / p50_u, "ratio")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and a few ops per phase")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expected answer (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(common.ROOT, "analyst_spark", "session.py")):
        print("perfbench: no program to measure (analyst_spark/ missing next to "
              "perfbench/); run from the root of a checkout", file=sys.stderr)
        return 2
    common.pin_environment()
    import workloads  # noqa: E402  (imports the program)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](args.seed, args.smoke, args.plant_wrong)
    max_ops = MAX_OPS_SMOKE if args.smoke else 10**9

    from analyst_spark.session import get_spark
    from analyst_spark.tables import register_views

    wl.generate()
    checked: list[dict] = []
    setups, parts = [], {"get_spark": [], "register_views": []}
    spark = None
    try:
        for i in range(N_SETUPS):
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            t1 = time.perf_counter()
            if wl.uses_views:
                register_views(spark, wl.lake_dir)
            t2 = time.perf_counter()
            wl.start(spark)
            checked.append(wl.warm_op())
            setups.append(time.perf_counter() - t0)
            parts["get_spark"].append(t1 - t0)
            parts["register_views"].append(t2 - t1)
            if i < N_SETUPS - 1:
                wl.stop()
                spark.stop()
        checked += wl.steady()

        if args.trace == 0:
            t0 = time.perf_counter()
            recs = wl.measure(args.seconds, max_ops)
            window = time.perf_counter() - t0
            wl.verify(recs)
            metrics = None
        else:
            untraced = wl.measure(args.seconds / 2, max_ops)
            tracer = spans.Tracer()
            spans.install_aql(tracer)
            spans.install_to_local_iterator(tracer, type(spark.range(1)))
            from analyst_spark import server as srv

            spans.install_server(tracer, srv.AnalystServer, itertools.count(1))
            try:
                recs = wl.measure(args.seconds / 2, max_ops, tracer)
            finally:
                tracer.restore()
            wl.verify(untraced)
            wl.verify(recs)
            checked += untraced
            _, problems = spans.self_times(tracer.spans)
            path = os.path.join(common.WORK, f"spans-{wl.name}-{args.seed}.jsonl")
            tracer.dump(path)
            wl.info["spans"] = f"{len(tracer.spans)} in {os.path.relpath(path, common.ROOT)}"
            wl.info["span_nesting_problems"] = len(problems)
            metrics = per_layer(
                wl, tracer, untraced, recs,
                {k: median(v) for k, v in parts.items()},
            )
    finally:
        if spark is not None:
            try:
                wl.stop()
            finally:
                spark.stop()
                common.stop_jvm()
        shutil.rmtree(os.path.join(common.WORK, "data"), ignore_errors=True)

    rec_path = os.path.join(common.WORK, f"records-{wl.name}-{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump({"setups_s": setups, "checked": checked, "measured": recs}, fh)
    all_recs = checked + recs
    failed = sum(1 for r in all_recs if not r["ok"])
    info = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, **common.versions(), **wl.info,
            "setup_samples_s": [round(x, 4) for x in setups]}
    if metrics is None:
        metrics = end_to_end(wl, recs, window, setups, info)
    common.emit(failed == 0, len(all_recs), failed, metrics, info)
    return 0


if __name__ == "__main__":
    sys.exit(main())
