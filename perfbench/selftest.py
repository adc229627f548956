"""The benchmark's own checks; run from the repository root:

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all in BENCHMARK.json) it runs:

1. a smoke run (``--seconds 1``, one cycle): the result line has every
   end-to-end metric of BENCHMARK.json with its unit, ``correct`` is
   true and no operation failed;
2. two traced runs on one seed: every per-layer metric is present with
   its unit, and the counts ``spark.jobs``, ``spark.stages``,
   ``spark.tasks``, ``store.builds``, ``io.write_table_calls`` and
   ``quality.gate_calls`` are identical between the two runs;
3. on the span file of a traced ``dedup_store`` run: every store
   consumer requests a store asset and ``simhash_dedup`` does not.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPEATED_COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "store.builds",
                   "io.write_table_calls", "quality.gate_calls")
SEED = 7


def run(workload: str, trace: int, seconds: float = 1) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def check_result(result: dict, specs: list[dict], what: str) -> None:
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
          f"{what}: correct, {result['attempted']} attempted, none failed")
    got = result["metrics"]
    for spec in specs:
        m = got.get(spec["name"])
        check(m is not None and m["unit"] == spec["unit"]
              and isinstance(m["value"], (int, float)),
              f"{what}: {spec['name']} reported in {spec['unit']}")


def check_store_consumers() -> None:
    sys.path.insert(0, HERE)
    import workloads

    path = os.path.join(ROOT, ".perfbench_out", f"spans-dedup_store-{SEED}.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    requested = {s["op"].split(":")[1] for s in spans
                 if s["name"] == "store.request" and s["op"]}
    for name in workloads.DEDUP_BUILDS + workloads.DEDUP_STORE_CONSUMERS:
        check(name in requested, f"dedup_store: {name} reads the store")
    for name in workloads.DEDUP_BYPASS:
        check(name not in requested, f"dedup_store: {name} bypasses the store")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = argv or [w["name"] for w in bench["workloads"]]
    for workload in names:
        check_result(run(workload, 0), bench["end_to_end"], f"{workload} smoke")
        first, second = run(workload, 1), run(workload, 1)
        for result in (first, second):
            check_result(result, bench["per_layer"], f"{workload} traced")
        for key in REPEATED_COUNTS:
            a, b = first["metrics"][key]["value"], second["metrics"][key]["value"]
            check(a == b, f"{workload}: {key} repeats ({a} and {b})")
        if workload == "dedup_store":
            check_store_consumers()
    print("all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
