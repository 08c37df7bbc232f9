#!/usr/bin/env python3
"""Steadiness procedure for the benchmark.

Runs every workload of BENCHMARK.json once per seed (untraced), then for
each end-to-end metric reports the median, the quartiles and the spread
(Q3 - Q1) / median against the metric's bound. Two saved sets compare
with --compare: the second median may not be worse than the first by more
than the bound, and the share of failed operations must be identical.

    python3 perfbench/steady.py --runs 10 --first-seed 1 --out set1.json
    python3 perfbench/steady.py --runs 10 --first-seed 101 --out set2.json
    python3 perfbench/steady.py --compare set1.json set2.json
    python3 perfbench/steady.py --overhead 7   # traced minus untraced rounds

Spreads are judged as the benchmark requires: below a third of the bound
is steady; setup_s is exempt from the spread rule but not from the
median comparison. The wall time of every run is recorded, and the
projected time of the acceptance protocol (4 + 22 x workloads runs) is
printed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec, workload, seed, size):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    if size != "full":
        cmd += ["--size", size]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        return {"seed": seed, "wall_s": wall, "error": p.returncode}
    r = json.loads(p.stdout.strip().split("\n")[-1])
    r.update(seed=seed, wall_s=wall)
    return r


def quartiles(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def summarize(spec, results):
    ok = True
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    for w, runs in results.items():
        good = [r for r in runs if "metrics" in r]
        print(f"\n== {w}: {len(good)}/{len(runs)} runs ok, "
              f"wall median {statistics.median(r['wall_s'] for r in runs):.1f} s")
        shares = {(r["failed"], r["attempted"]) for r in good}
        print(f"   failed/attempted per run: {sorted(shares)}")
        if len(good) < len(runs) or len(good) < 4:
            ok = False
            continue
        for name, m in bounds.items():
            vals = [r["metrics"][name]["value"] for r in good]
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("inf")
            if name == "setup_s":
                verdict = "exempt"
            elif spread <= m["bound"] / 3:
                verdict = "steady"
            elif spread <= m["bound"]:
                verdict = "within bound"
            else:
                verdict, ok = "UNSTEADY", False
            print(f"   {name:28s} median {med:14.4f} {m['unit']:8s} spread {spread:6.3f} "
                  f"bound {m['bound']:.3f}  {verdict}")
    return ok


def compare(spec, a, b):
    ok = True
    for m in spec["end_to_end"]:
        for w in a:
            va = [r["metrics"][m["name"]]["value"] for r in a[w] if "metrics" in r]
            vb = [r["metrics"][m["name"]]["value"] for r in b.get(w, []) if "metrics" in r]
            if not va or not vb:
                print(f"{w:12s} {m['name']:28s} missing")
                ok = False
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            flag = "FAIL" if worse > m["bound"] else "ok"
            ok &= flag == "ok"
            print(f"{w:12s} {m['name']:28s} {ma:14.4f} -> {mb:14.4f}  worse by {worse:+.3f} "
                  f"(bound {m['bound']})  {flag}")
    for w in a:
        fa = {r["failed"] / r["attempted"] for r in a[w] if "metrics" in r}
        fb = {r["failed"] / r["attempted"] for r in b.get(w, []) if "metrics" in r}
        if fa != fb or len(fa) != 1:
            print(f"{w}: failed share differs: {fa} vs {fb}")
            ok = False
    return ok


def overhead(spec, seed):
    """Runs each workload on one seed untraced and traced and prints the
    wall time of the timed rounds of both; the difference is the cost of
    the spans and the Spark listener (the traced run's replay comes after
    the rounds and is not part of it).
    """
    for w in [w["name"] for w in spec["workloads"]]:
        walls = []
        for trace in ("0", "1"):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", trace]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            line = [l for l in p.stdout.split("\n") if " rounds_wall_s " in l]
            walls.append(float(line[0].split()[4]) if line else float("nan"))
        print(f"{w:12s} rounds untraced {walls[0]:.3f} s, traced {walls[1]:.3f} s, "
              f"overhead {walls[1] - walls[0]:+.3f} s ({(walls[1] / walls[0] - 1) * 100:+.1f}%)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--size", default="full", choices=("full", "small"))
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    ap.add_argument("--overhead", type=int, metavar="SEED")
    a = ap.parse_args()
    spec = load_spec()
    if a.overhead is not None:
        overhead(spec, a.overhead)
        return 0
    if a.compare:
        sets = []
        for p in a.compare:
            with open(p) as f:
                sets.append(json.load(f))
        return 0 if compare(spec, *sets) else 1
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    results = {w: [] for w in names}
    for w in names:
        for seed in range(a.first_seed, a.first_seed + a.runs):
            r = run_once(spec, w, seed, a.size)
            results[w].append(r)
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s" + ("  ERROR" if "error" in r else ""),
                  flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)
    ok = summarize(spec, results)
    walls = [r["wall_s"] for runs in results.values() for r in runs]
    total = (4 + 22 * len(spec["workloads"])) * statistics.mean(walls)
    print(f"\nprojected acceptance protocol: {total:.0f} s of runs (mean run {statistics.mean(walls):.1f} s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
