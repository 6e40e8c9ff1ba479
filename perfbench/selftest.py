"""Self-test of the benchmark at smoke sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: every workload run.py knows) it asserts:

* an untraced and a traced smoke run print every metric BENCHMARK.json
  names for that mode, each with its unit (lake_mix, which
  BENCHMARK.json does not list, must print the same end-to-end set);
* ``failed_ratio`` is 0 on both;
* a run with one planted wrong expected answer reports failures;
* every traced span has a self time >= 0 and lies inside its parent.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, WORK  # noqa: E402
from spans import self_times  # noqa: E402

SEED = 424242


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "2", "--trace", str(trace), "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict], label: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    missing = sorted(set(want) - set(got))
    assert not missing, f"{label}: metrics not printed: {missing}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{label}: {name} unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), f"{label}: {name} not a number"


def check_spans(workload: str) -> None:
    path = os.path.join(WORK, f"spans-{workload}-{SEED}.jsonl")
    with open(path) as fh:
        spans = [json.loads(line) for line in fh]
    assert spans, f"{workload}: no spans recorded"
    selfs, problems = self_times(spans)
    assert not problems, f"{workload}: span nesting problems: {problems[:5]}"
    assert all(v >= 0 for v in selfs.values()), f"{workload}: negative self time"


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = {w["name"] for w in bench["workloads"]}
    names = argv or sorted(listed | {"lake_mix"})
    for wl in names:
        r0 = run(wl, 0)
        check_metrics(r0, bench["end_to_end"], f"{wl} trace 0")
        assert r0["failed"] == 0 and r0["correct"], f"{wl}: failed_ratio != 0: {r0}"
        r1 = run(wl, 1)
        if wl in listed:
            check_metrics(r1, bench["per_layer"], f"{wl} trace 1")
        assert r1["failed"] == 0 and r1["correct"], f"{wl} traced: failed_ratio != 0"
        check_spans(wl)
        bad = run(wl, 0, "--plant-wrong")
        assert bad["failed"] > 0 and not bad["correct"], f"{wl}: planted error not caught"
        print(f"ok  {wl}: metrics, failed_ratio 0, planted error caught, spans nest", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
