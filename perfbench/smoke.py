#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the smoke size.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json, plus pagerank-converge, once traced
at --size smoke, and checks that each run passes its output checks and
reports exactly the end-to-end (in its host record) and per-layer metric
names, with the units, that BENCHMARK.json declares. Then the negative
control: a run with one perturbed output must fail its check. Exits 1 on the
first mismatch.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--size", "smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    host = json.loads(lines[-2])["host"] if len(lines) >= 2 else {}
    result = json.loads(lines[-1]) if lines else {}
    return p.returncode, host, result, p.stderr


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for workload in [w["name"] for w in bench["workloads"]] + ["pagerank-converge"]:
        code, host, result, err = run(workload, "--trace", "1")
        expect(code == 0 and result.get("correct") is True,
               f"{workload}: checks pass ({result.get('attempted')} attempted)"
               + ("" if code == 0 else f"\n{err[-3000:]}"))
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        expect(got == layers, f"{workload}: per-layer names and units"
               + ("" if got == layers else f": extra {sorted(set(got) - set(layers))}, "
                  f"missing {sorted(set(layers) - set(got))}"))
        expect(set(host.get("e2e", {})) == set(e2e), f"{workload}: end-to-end names")
    code, _, result, _ = run("cc-durable-resume", "--trace", "0", "--perturb", "1")
    expect(code == 1 and result.get("correct") is False and result.get("failed", 0) > 0,
           "negative control: a perturbed CC label fails its check")


if __name__ == "__main__":
    main()
