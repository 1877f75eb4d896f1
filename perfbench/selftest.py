#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

For every workload, at smoke size:
  - an untraced run passes its output checks and prints exactly the
    end-to-end metrics named in BENCHMARK.json;
  - a traced run prints exactly the per-layer metrics;
  - a run whose sink loses one record (--plant-loss) fails: nonzero exit,
    "correct": false and failed >= 1.
Then a copy holding only BENCHMARK.json and perfbench/ (no program sources)
must exit nonzero without printing a result.
Exits 1 on the first expectation that does not hold.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd, *extra):
    cmd = SPEC["command"] + ["--seed", "1", "--seconds", "2"] + list(extra)
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
        if result is not None and "metrics" not in result:
            result = None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main():
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    layers = {m["name"] for m in SPEC["per_layer"]}
    # json_poll is not listed in BENCHMARK.json (run-time budget) but stays runnable
    for w in ["json_poll"] + [x["name"] for x in SPEC["workloads"]]:
        code, r = run(ROOT, "--workload", w, "--trace", "0", "--smoke")
        expect(code == 0 and r and r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
               f"{w}: smoke run passes its output checks")
        expect(set(r["metrics"]) == e2e, f"{w}: prints every end-to-end metric")
        code, r = run(ROOT, "--workload", w, "--trace", "1", "--smoke")
        expect(code == 0 and r and r["correct"], f"{w}: traced smoke run passes")
        expect(set(r["metrics"]) == layers, f"{w}: traced run prints every per-layer metric")
        code, r = run(ROOT, "--workload", w, "--trace", "0", "--smoke", "--plant-loss")
        expect(code != 0 and r is not None and not r["correct"] and r["failed"] >= 1,
               f"{w}: a lost record fails the run")

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "out", "target", "project/target",
                                                  "project/project", ".bsp"))
    try:
        code, r = run(bare, "--workload", SPEC["workloads"][0]["name"], "--trace", "0")
        expect(code != 0 and r is None, "without program sources: nonzero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
