#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny shape.

    python3 varbench/smoke.py

Runs every workload of run.py (the two in BENCHMARK.json and `backtest`)
untraced and traced, for one second each at a few tickers and 100 trials.
Checks that each run's last line is the benchmark record, that its
correctness checks passed, and that it prints exactly the end-to-end
metrics (untraced) or per-layer metrics (traced) BENCHMARK.json names.
Exits non-zero on the first failure. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {0: [m["name"] for m in bench["end_to_end"]],
             1: [m["name"] for m in bench["per_layer"]]}
    workloads = [w["name"] for w in bench["workloads"]] + ["backtest"]
    for workload in workloads:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--shape", "4,3,130,100"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            problems = []
            if out.returncode != 0:
                problems.append(f"exit code {out.returncode}: {out.stderr[-2000:]}")
            else:
                rec = json.loads(last)
                if sorted(rec) != ["attempted", "correct", "failed", "metrics"]:
                    problems.append(f"record keys {sorted(rec)}")
                if not rec["correct"] or rec["failed"] != 0 or rec["attempted"] < 1:
                    problems.append(f"checks: correct={rec['correct']} failed={rec['failed']}")
                if sorted(rec["metrics"]) != sorted(names[trace]):
                    missing = set(names[trace]) - set(rec["metrics"])
                    extra = set(rec["metrics"]) - set(names[trace])
                    problems.append(f"metrics missing {sorted(missing)} extra {sorted(extra)}")
                bad = [k for k, v in rec["metrics"].items()
                       if not isinstance(v.get("value"), (int, float))]
                if bad:
                    problems.append(f"non-numeric values {bad}")
            status = "FAIL" if problems else "ok"
            print(f"{status} {workload} trace={trace}", *problems, sep="\n  " if problems else " ")
            if problems:
                sys.exit(1)
    print("smoke: all workloads ok")


if __name__ == "__main__":
    main()
