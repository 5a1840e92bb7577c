"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Checks, on seed 0:
1. BENCHMARK.json lists exactly the workloads and the end-to-end and
   per-layer metrics (names and units) that run.py defines.
2. The correctness gates fail on deliberately corrupted op outputs:
   one dropped unitig, one wrong cluster id, a snapshot aggregate
   missing one row.
3. A short run of one workload with tracing off and on emits exactly
   the metric names BENCHMARK.json lists, and passes its gates.

Exits 0 when every check passes.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 0
failures: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(f"[selftest] {'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        failures.append(what)


def spec_matches(bench: dict) -> None:
    names = [w["name"] for w in bench["workloads"]]
    expect(set(names) <= set(WORKLOADS), "listed workloads exist in run.py")
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    expect(e2e == run.E2E, "end_to_end metrics match run.E2E")
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect(layer == run.per_layer_spec(), "per_layer metrics match run.py")


def gates_catch_corruption() -> None:
    work = os.path.join(ROOT, ".perfbench_work")
    for name, cls in WORKLOADS.items():
        inputs, exp = run.prepare(name, SEED, work)
        w = cls(inputs, os.path.join(work, "selftest"), exp, tracer=None)
        if name == "sora_assembly":
            good = {"kind": w.kind, "out": {
                "clusters": copy.deepcopy(exp["clusters"]),
                "unitigs": copy.deepcopy(exp["unitigs"]),
                "stats": {"reduce_rounds": 2, "bubble_rounds": 2}}}
            expect(w.check(good)[0] == "pass", "assembly: oracle answer passes")
            bad = copy.deepcopy(good)
            bad["out"]["unitigs"].pop()
            expect(w.check(bad)[0] == "fail", "assembly: dropped unitig fails")
            bad = copy.deepcopy(good)
            bad["out"]["clusters"][-1][1] += 1
            expect(w.check(bad)[0] == "fail",
                   "assembly: one wrong cluster id fails")
            deep = copy.deepcopy(good)
            deep["out"]["stats"]["bubble_rounds"] = 4
            expect(w.check(deep)[0] == "unverified",
                   "assembly: rounds past the 3+3 unroll are unverified")
        elif name == "table_upsert":
            want = copy.deepcopy(exp["snapshots"][0])
            expect(w.check({"kind": "read", "out": want})[0] == "pass",
                   "upsert: model snapshot passes")
            bad = copy.deepcopy(want)
            bad[0][1] -= 1
            expect(w.check({"kind": "read", "out": bad})[0] == "fail",
                   "upsert: snapshot missing a row fails")


def short_run(bench: dict, workload: str) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(SEED), "--seconds", "1",
             "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        expect(out.returncode == 0, f"{workload} --trace {trace} exits 0")
        try:
            result = json.loads(out.stdout.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError):
            expect(False, f"{workload} --trace {trace} prints a result")
            continue
        expect(set(result) == {"correct", "attempted", "failed", "metrics"},
               "result has exactly the contract keys")
        listed = {m["name"] for m in bench[key]}
        expect(set(result["metrics"]) == listed,
               f"{workload} --trace {trace} emits exactly the {key} metrics")
        expect(result["correct"] and result["failed"] == 0,
               f"{workload} --trace {trace} passes its gates")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec_matches(bench)
    gates_catch_corruption()
    short_run(bench, "table_upsert")
    print(f"[selftest] {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
