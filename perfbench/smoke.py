#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once at minimum size (one second of measuring),
untraced and traced, and checks that:
  - the last stdout line has exactly the keys correct/attempted/failed/metrics;
  - every end-to-end metric of BENCHMARK.json is printed with its unit
    untraced, and every per-layer metric traced;
  - outputs were checked and nothing failed (ok_ratio 1, fail_ratio 0,
    no replay misses);
  - record and request counts are the same on the default seed and on a
    held-out seed.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bars_bulk", "trades_grid", "gates_mix")
DEFAULT_SEED, HELD_OUT_SEED = 1, 977


def run(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} seed={seed} trace={trace}: exit {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    info = next(json.loads(line[len("perfbench: "):]) for line in p.stderr.splitlines()
                if line.startswith("perfbench: {"))
    return result, info


def check(cond, what):
    if not cond:
        raise SystemExit(f"FAIL {what}")
    print(f"ok   {what}")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    counts = {}
    for w in WORKLOADS:
        for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res, info = run(w, DEFAULT_SEED, trace)
            tag = f"{w} trace={trace}"
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{tag}: outputs checked, none failed")
            m = res["metrics"]
            want = {x["name"]: x["unit"] for x in listed}
            check(set(m) == set(want), f"{tag}: metric names")
            check(all(m[k]["unit"] == u and isinstance(m[k]["value"], (int, float))
                      for k, u in want.items()), f"{tag}: values and units")
            if trace == 0:
                check(m["ok_ratio"]["value"] == 1, f"{tag}: fail_ratio = 0")
                counts[w] = (m["api_requests"]["value"], info["records"])
            else:
                check(m["bench.fail_ratio"]["value"] == 0, f"{tag}: fail_ratio = 0")
                check(m["server.misses"]["value"] == 0, f"{tag}: no replay misses")
        res, info = run(w, HELD_OUT_SEED, 0)
        check((res["metrics"]["api_requests"]["value"], info["records"]) == counts[w],
              f"{w}: request and record counts equal on seeds {DEFAULT_SEED} and {HELD_OUT_SEED}")
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
