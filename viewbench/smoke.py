#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the tiny `smoke` scale.

    python3 viewbench/smoke.py

For every workload (all four, including the two that BENCHMARK.json
leaves out for time) it checks that
  * an untraced run is correct and prints every end-to-end metric with
    the unit BENCHMARK.json gives it, and nothing else;
  * a traced run prints every per-layer metric with its unit;
  * a run against a deliberately corrupted reference reports
    "correct": false, so the correctness check can fail.
Exits 1 if any check fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import SPEC, WORKLOADS  # noqa: E402


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--scale", "smoke"]
    if corrupt:
        cmd.append("--corrupt-reference")
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = "\n".join(p.stderr.strip().splitlines()[-5:])
        return None, f"exit {p.returncode}: {tail}"
    return json.loads(lines[-1]), None


def check_metrics(res, wanted):
    got = res["metrics"]
    problems = []
    missing = sorted(set(wanted) - set(got))
    extra = sorted(set(got) - set(wanted))
    if missing:
        problems.append(f"missing metrics {missing}")
    if extra:
        problems.append(f"unexpected metrics {extra}")
    for k, unit in wanted.items():
        if k in got and got[k].get("unit") != unit:
            problems.append(f"{k}: unit {got[k].get('unit')!r} != {unit!r}")
        if k in got and not isinstance(got[k].get("value"), (int, float)):
            problems.append(f"{k}: value {got[k].get('value')!r} is not a number")
    return problems


def main():
    with open(SPEC) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failed = False
    for w in WORKLOADS:
        for label, trace, corrupt, wanted in (("untraced", 0, False, e2e),
                                              ("traced", 1, False, layers),
                                              ("corrupted reference", 0, True, None)):
            res, err = run(w, trace, corrupt)
            problems = [err] if err else []
            if res is not None:
                if corrupt:
                    if res["correct"] is not False:
                        problems.append("corrupted reference was not detected")
                else:
                    if res["correct"] is not True or res["failed"] != 0:
                        problems.append(f"correct={res['correct']} failed={res['failed']}")
                    if res["attempted"] < 1:
                        problems.append("no ops attempted")
                    problems += check_metrics(res, wanted)
            failed |= bool(problems)
            print(f"{'FAIL' if problems else 'ok  '} {w:14} {label:20} "
                  + "; ".join(problems), flush=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
