"""Steadiness check: run one or more workloads on several seeds, the way the
benchmark is run for its record, and summarize every end-to-end metric as
median, quartiles and spread (interquartile distance over the median).

    python3 perfbench/steadiness.py --workloads ingest mixed --seeds 1-10
        [--seconds S] [--out perfbench/_work/steadiness.json]

Run from the repository root. Each run's JSON line and report lines are kept
in the output file; the summary table goes to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LINE = re.compile(r"^(\w+) = (-?[0-9.]+|nan) (\S+)")


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    report = {}
    for line in lines[:-1]:
        m = LINE.match(line)
        if m:
            report[m.group(1)] = float(m.group(2))
    return {"workload": workload, "seed": seed, "rc": p.returncode, "wall_s": wall,
            "result": result, "report": report}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", default=os.path.join(HERE, "_work", "steadiness.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    runs = []
    for w in args.workloads:
        for s in seeds(args.seeds):
            r = run_once(w, s, seconds)
            runs.append(r)
            ok = r["result"] is not None and r["result"]["correct"]
            print(f"{w} seed {s}: rc={r['rc']} correct={ok} wall={r['wall_s']:.1f}s", flush=True)
            with open(args.out, "w") as fh:
                json.dump(runs, fh, indent=1)
    print(f"\n| workload | metric | median | Q1 | Q3 | spread | bound/3 |")
    print("|---|---|---|---|---|---|---|")
    for w in args.workloads:
        good = [r for r in runs if r["workload"] == w and r["result"]]
        if len(good) < 2:
            print(f"| {w} | (fewer than two good runs) | | | | | |")
            continue
        names = list(good[0]["result"]["metrics"]) + [
            k for k in good[0]["report"] if k not in good[0]["result"]["metrics"]
        ]
        for name in names:
            vals = [
                r["result"]["metrics"][name]["value"] if name in r["result"]["metrics"]
                else r["report"].get(name, float("nan"))
                for r in good
            ]
            if any(v != v for v in vals) or statistics.median(vals) == 0:
                continue
            med, q1, q3, sp = spread(vals)
            b = bounds.get(name)
            lim = f"{b / 3:.3f}" if b is not None else "-"
            print(f"| {w} | {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | {sp:.3f} | {lim} |")
        walls = [r["wall_s"] for r in runs if r["workload"] == w]
        print(f"| {w} | wall_s (per run) | {statistics.median(walls):.1f} | | | | |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
