#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at sf0.001 scale.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced on
tiny inputs, and asserts that each run prints every end-to-end
(untraced) or per-layer (traced) metric with its declared unit. Then it
reruns each workload with one kept result deliberately damaged and
asserts that the failure count rises. Exits non-zero on any failed
assertion. Takes a few minutes; the numbers it prints mean nothing.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = ["--scale", "0.001", "--orders", "300", "--seconds", "1"]


def run(workload, seed, *extra):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed)] + TINY + list(extra)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    assert r.returncode == 0, f"{cmd} exited {r.returncode}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace, declared in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            res = run(w, 1, "--trace", trace)
            for m in declared:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} missing or wrong unit: {got}")
            extra = set(res["metrics"]) - {m["name"] for m in declared}
            if extra:
                problems.append(f"{w} trace={trace}: undeclared metrics {sorted(extra)}")
            base = res["failed"] / res["attempted"]
        bad = run(w, 1, "--trace", "0", "--corrupt")
        if bad["failed"] / bad["attempted"] <= base or bad["correct"]:
            problems.append(f"{w}: a damaged result did not raise fail_share "
                            f"({base:.3f} -> {bad['failed'] / bad['attempted']:.3f})")
        print(f"{w}: fail_share {base:.3f}, with a damaged result "
              f"{bad['failed'] / bad['attempted']:.3f}")
    for p in problems:
        print("SMOKE FAIL", p)
    if problems:
        sys.exit(1)
    print("smoke ok")


if __name__ == "__main__":
    main()
