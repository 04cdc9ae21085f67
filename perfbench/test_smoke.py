#!/usr/bin/env python3
"""The benchmark's own test: every workload, untraced and traced, on tiny
inputs, must pass its output checks and emit every metric BENCHMARK.json
names, with its unit.

Run from the repository root: python3 perfbench/test_smoke.py
"""
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def problems(spec, workload, trace):
    """What is wrong with one smoke run, as a list of messages."""
    r = subprocess.run(
        spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        return [f"exit {r.returncode}: {r.stderr[-2000:]}"]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    found = []
    if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
        found.append(f"result keys {sorted(out)}")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        found.append(f"correct={out['correct']} attempted={out['attempted']} "
                     f"failed={out['failed']}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        found.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                     f"unexpected {sorted(set(got) - set(want))}, wrong unit "
                     f"{sorted(k for k in want if k in got and got[k] != want[k])}")
    found += [f"{k} is not a finite number: {v['value']!r}" for k, v in out["metrics"].items()
              if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    return found


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failed = False
    for w in spec["workloads"]:
        for trace in (0, 1):
            found = problems(spec, w["name"], trace)
            failed |= bool(found)
            print(f"{'FAIL' if found else 'ok  '} {w['name']} trace={trace}", flush=True)
            for f in found:
                print(f"     {f}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
