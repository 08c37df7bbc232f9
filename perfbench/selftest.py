#!/usr/bin/env python3
"""The benchmark's own tests, on the small-size mode of the same command.

    python3 perfbench/selftest.py

For every workload of BENCHMARK.json, untraced and traced, it checks that
the run exits 0 and that its last line is one JSON object with exactly the
keys correct, attempted, failed and metrics; that the metrics are exactly
the end-to-end (untraced) or per-layer (traced) names of BENCHMARK.json,
with their units and finite values; and that no operation failed. It also
checks that a copy holding only BENCHMARK.json and the benchmark's own
directories (no engine sources) fails with a non-zero exit and no result.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(spec, cwd, workload, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", "5", "--seconds", "1",
                             "--trace", str(trace), "--size", "small"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def check_result(spec, p, trace):
    errors = []
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    r = json.loads(p.stdout.strip().split("\n")[-1])
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"keys {sorted(r)}")
    if r.get("correct") is not True or r.get("failed") != 0 or r.get("attempted", 0) < 1:
        errors.append(f"correct={r.get('correct')} attempted={r.get('attempted')} failed={r.get('failed')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = r.get("metrics", {})
    if set(got) != set(want):
        errors.append(f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{name} value {v}")
        if name in want and m.get("unit") != want[name]:
            errors.append(f"{name} unit {m.get('unit')} != {want[name]}")
    if not trace and any(got[n]["value"] == 0 for n in got if n in want):
        errors.append("an end-to-end metric reads 0")
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            errs = check_result(spec, run(spec, ROOT, w, trace), trace)
            print(f"{w} trace={trace}: {'ok' if not errs else 'FAIL'}")
            for e in errs:
                print(f"   {e}")
            failures += bool(errs)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(spec, bare, spec["workloads"][0]["name"], 0)
        last = p.stdout.strip().split("\n")[-1] if p.stdout.strip() else ""
        ok = p.returncode != 0 and not last.startswith("{")
        print(f"bare copy without engine sources: {'ok' if ok else 'FAIL'} (exit {p.returncode})")
        failures += not ok
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
