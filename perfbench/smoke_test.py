#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once at tiny size.

    python3 perfbench/smoke_test.py [workload ...]

For each workload it makes two runs, seed 1 untraced and seed 2 traced,
and checks that:

- the last line carries exactly the metrics ``BENCHMARK.json`` declares
  (end-to-end untraced, per-layer traced), each with its declared unit;
- both runs are correct and their error rate is 0;
- the report names the same figures under both seeds, while the inputs
  (their content hash) differ.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    report = json.loads(lines[-2].removeprefix("REPORT "))
    return report, json.loads(lines[-1])


def check_metrics(result: dict, declared: list[dict], what: str) -> list[str]:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errs = []
    if set(got) != set(want):
        errs.append(f"{what}: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    errs += [f"{what}: {k} unit {got[k]} != {u}" for k, u in want.items() if k in got and got[k] != u]
    errs += [f"{what}: {k} is not a number" for k, v in result["metrics"].items()
             if not isinstance(v["value"], (int, float))]
    return errs


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    errs = []
    for name in argv or sorted(WORKLOADS):
        rep1, res1 = run(name, 1, 0)
        rep2, res2 = run(name, 2, 1)
        errs += check_metrics(res1, spec["end_to_end"], f"{name} end-to-end")
        errs += check_metrics(res2, spec["per_layer"], f"{name} per-layer")
        for seed, rep, res in ((1, rep1, res1), (2, rep2, res2)):
            fig = rep["figures"]
            if not res["correct"] or res["failed"] or fig["error_rate"]["value"] != 0:
                errs.append(f"{name} seed {seed}: failures {fig['failures']}")
        if set(rep1["figures"]) != set(rep2["figures"]):
            errs.append(f"{name}: figures differ between seeds")
        if rep1["figures"]["inputs"] == rep2["figures"]["inputs"]:
            errs.append(f"{name}: seed 2 made the same inputs as seed 1")
        print(f"{name}: {'ok' if not errs else 'FAILED'}", flush=True)
    for e in errs:
        print(e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
