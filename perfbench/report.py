#!/usr/bin/env python3
"""Repeatability and count-determinism reports over benchmark runs.

    python3 perfbench/report.py spread --workload convert --seeds 1-10
        runs the benchmark once per seed (untraced) and prints, per
        end-to-end metric, the median and the quartile spread
        (Q3 - Q1) / median next to the metric's bound.

    python3 perfbench/report.py overhead [ARTIFACT ...]
        the tracing overhead as a difference between runs: per workload,
        the median op_p50_s of traced runs over that of untraced runs, less 1.

    python3 perfbench/report.py counts [ARTIFACT ...]
        reads traced-run artifacts (default: all under .bench_build/artifacts)
        and lists, per workload and operation, which census counts (jobs,
        stages, tasks) repeated exactly across every traced repetition of
        that operation on the same inputs.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(workload, seed_list):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for s in seed_list:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else None
        if not last or not last["correct"]:
            print(f"seed {s}: run failed (exit {r.returncode})")
            return 1
        for k, v in last["metrics"].items():
            values[k].append(v["value"])
        print(f"seed {s}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
              flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{workload} {m['name']}: median {med:.4g} {m['unit']}, spread "
              f"{(q3 - q1) / med:.3f} (bound {m['bound']})")
    return 0


def counts(paths):
    per = {}
    for p in paths:
        a = json.load(open(p))
        if not a.get("census"):
            continue
        for op, reps in a["census"].items():
            for rep in reps:
                key = (a["workload"], a["manifest"]["fingerprint"], op)
                for k, v in rep.items():
                    per.setdefault(key + (k,), []).append(v)
    rows = {}
    for (workload, _, op, k), vals in per.items():
        rows.setdefault((workload, op, k), []).append(vals)
    print("| workload | operation | count | samples | values | exact |")
    print("|---|---|---|---|---|---|")
    for (workload, op, k), groups in sorted(rows.items()):
        # only repetitions over identical inputs are comparable
        same = [g for g in groups if len(g) >= 2]
        n = sum(len(g) for g in same)
        exact = "n/a" if not same else "yes" if all(len(set(g)) == 1 for g in same) else "no"
        seen = sorted({v for g in same for v in g})
        print(f"| {workload} | {op} | {k} | {n} | {', '.join(map(str, seen))} | {exact} |")
    return 0


def overhead(paths):
    walls = {}
    for p in paths:
        a = json.load(open(p))
        walls.setdefault((a["workload"], a["trace"]), []).append(a["end_to_end"]["op_p50_s"][0])
    for w in sorted({w for w, _ in walls}):
        off, on = walls.get((w, 0)), walls.get((w, 1))
        if off and on:
            print(f"{w}: traced {statistics.median(on):.4g} s ({len(on)} runs), untraced "
                  f"{statistics.median(off):.4g} s ({len(off)} runs), overhead "
                  f"{statistics.median(on) / statistics.median(off) - 1:+.3f}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    for name in ("overhead", "counts"):
        sub.add_parser(name).add_argument("artifacts", nargs="*")
    a = ap.parse_args()
    if a.cmd == "spread":
        return spread(a.workload, seeds(a.seeds))
    paths = a.artifacts or sorted(glob.glob(os.path.join(ROOT, ".bench_build", "artifacts", "*.json")))
    return (overhead if a.cmd == "overhead" else counts)(paths)


if __name__ == "__main__":
    sys.exit(main())
