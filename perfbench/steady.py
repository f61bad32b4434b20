#!/usr/bin/env python3
"""Repeat the benchmark and report each end-to-end metric's spread.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/evidence/set1.jsonl
    python3 perfbench/steady.py --seeds 1,1,1,1,2,2,2,2 --out .bench_build/repeats.jsonl

Run from the repository root. For every workload in BENCHMARK.json (or the
ones named with --workloads) and every seed of --seeds (ranges `a-b` and
comma lists; a seed listed twice runs twice), runs the benchmark command
with the file's run_seconds, appends one JSON line per run to --out, then
prints per workload and metric: the median, the quartiles (Python's
statistics.quantiles, n=4), the spread (q3 - q1) / median, and the bound.
Seeds that ran at least twice also get a spread over their own repeats.
With --compare FILE it also prints how far this set's medians moved from
that earlier set's, against the same bounds. Exits 1 when a spread or a
move exceeds its bound, or a run failed.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def values(runs, bench, seed=None):
    out = {}
    for w in {r["workload"] for r in runs}:
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                    if r["workload"] == w and r["result"] and seed in (None, r["seed"])]
            if vals:
                out[(w, m["name"])] = vals
    return out


def spread(vals):
    med = statistics.median(vals)
    if len(vals) >= 4:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1, q3 = min(vals), max(vals)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare")
    ap.add_argument("--summarize-only", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]

    if not a.summarize_only:
        for w in workloads:
            for s in seeds_of(a.seeds):
                t0 = time.time()
                p = subprocess.run(bench["command"] + [
                    "--workload", w, "--seed", str(s),
                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                lines = p.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                rec = {"workload": w, "seed": s, "exit": p.returncode,
                       "wall_s": round(time.time() - t0, 1), "result": result,
                       "summary": [l for l in lines[:-1] if l.startswith("[perfbench]")]}
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"{w} seed={s} exit={p.returncode} wall={rec['wall_s']}s", file=sys.stderr)

    runs = [r for r in load(a.out) if r["workload"] in workloads]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    old = values(load(a.compare), bench) if a.compare else {}
    ok = True
    for (w, name), vals in sorted(values(runs, bench).items()):
        med, q1, q3, sp = spread(vals)
        ok &= sp <= bounds[name]
        line = (f"{w:14s} {name:12s} n={len(vals):2d} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                f"spread={sp:.3f} bound={bounds[name]} below_bound/3={'yes' if sp < bounds[name] / 3 else 'NO'}")
        if (w, name) in old:
            before = statistics.median(old[(w, name)])
            worse = (med - before) / before if better[name] == "lower" else (before - med) / before
            ok &= worse <= bounds[name]
            line += f"  vs earlier median {before:.4g}: worse by {worse:+.3f}"
        print(line)
    for seed in sorted({r["seed"] for r in runs}):
        for (w, name), vals in sorted(values(runs, bench, seed).items()):
            if len(vals) >= 2:
                med, q1, q3, sp = spread(vals)
                ok &= sp <= bounds[name]
                print(f"{w:14s} {name:12s} seed={seed} repeats={len(vals)} median={med:.4g} "
                      f"spread={sp:.3f} bound={bounds[name]}")
    fails = [r for r in runs if not r["result"] or r["result"]["failed"] or not r["result"]["correct"]]
    walls = [r["wall_s"] for r in runs]
    print(f"runs={len(runs)} failed_or_incorrect={len(fails)} "
          f"wall_s median={statistics.median(walls):.1f} max={max(walls):.1f}")
    sys.exit(0 if ok and not fails else 1)


if __name__ == "__main__":
    main()
