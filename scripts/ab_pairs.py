"""Interleaved parent/change pairs of the benchmark, with a verdict per metric.

    python3 scripts/ab_pairs.py --parent DIR --change DIR
        [--workloads ingest mixed corpus_dedup] [--seeds 1-10] [--out FILE]

DIR is a checkout (the repository root of each side). For every seed and
workload, both sides run ``python3 perfbench/run.py --trace 0`` with their
own checkout as the working directory; which side runs first alternates
from one pair to the next, so host drift falls on both sides alike. The
workloads, the window length, and each end-to-end metric's direction and
bound come from the change's ``BENCHMARK.json``.

Per workload and metric the table gives both medians, the parent's
quartiles and spread (IQR / median), the relative change of the medians,
and the pairs the change won (ties count for neither side). The verdict:

- ``gain``: no run of the change failed or was incorrect, the change won
  at least 9/10 of all pairs run, and its median is better than the
  parent's by more than the parent's IQR;
- ``regression``: more runs of the change failed or were incorrect than of
  the parent, or the change's median is worse by more than the bound;
- ``unresolved``: the parent's spread is wider than the bound, and not
  every run of the change reads better than every run of the parent;
- ``within bound``: anything else.

Medians and quartiles use the pairs where both runs finished with
``correct: true`` and no failed operation; every run that failed or was
incorrect is listed. Seed specs and quartiles come from
``perfbench/steadiness.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.steadiness import seeds, spread  # noqa: E402

SIDES = ("parent", "change")


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    except json.JSONDecodeError:
        result = None
    return {"rc": p.returncode, "result": result,
            "stderr_tail": p.stderr.strip().splitlines()[-3:] if result is None else []}


def ok(run: dict) -> bool:
    r = run["result"]
    return r is not None and r["correct"] and r["failed"] == 0


def verdict(par: list[float], chg: list[float], wins: int, pairs: int,
            lower: bool, bound: float, bad: tuple[int, int] = (0, 0)) -> str:
    """``pairs`` counts every pair run; ``bad`` is (parent, change) runs that
    failed or were incorrect."""
    pm, q1, q3, _ = spread(par)
    cm = statistics.median(chg)
    sign = 1.0 if lower else -1.0
    worse = sign * (cm - pm) / pm
    if bad[1] > bad[0]:
        return "regression"
    if bad[1] == 0 and wins >= 0.9 * pairs and sign * (pm - cm) > q3 - q1:
        return "gain"
    if worse > bound:
        return "regression"
    all_better = (max(chg) < min(par)) if lower else (min(chg) > max(par))
    if (q3 - q1) / pm > bound and not all_better:
        return "unresolved"
    return "within bound"


def summarize(workload: str, pairs: list[tuple[dict, dict]], metrics: list[dict]) -> None:
    good = [(p, c) for p, c in pairs if ok(p) and ok(c)]
    bad = (sum(not ok(p) for p, _ in pairs), sum(not ok(c) for _, c in pairs))
    print(f"\n## {workload}: {len(good)} of {len(pairs)} pairs with both runs correct; "
          f"failed or incorrect: parent {bad[0]}, change {bad[1]}")
    if len(good) < 2:
        return
    print("| metric | parent median | change median | parent Q1 | parent Q3 "
          "| parent IQR/median | change | pairs won | verdict |")
    print("|---|---|---|---|---|---|---|---|---|")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["result"]["metrics"][name]["value"] for p, _ in good]
        chg = [c["result"]["metrics"][name]["value"] for _, c in good]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pm, q1, q3, sp = spread(par)
        cm = statistics.median(chg)
        v = verdict(par, chg, wins, len(pairs), lower, m["bound"], bad)
        print(f"| `{name}` | {pm:.4g} | {cm:.4g} | {q1:.4g} | {q3:.4g} "
              f"| {sp:.3f} | {(cm - pm) / pm:+.3f} "
              f"| {wins}/{len(pairs)} | {v} |")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args(argv)

    dirs = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(dirs["change"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]

    runs: dict[str, list[tuple[dict, dict]]] = {w: [] for w in workloads}
    log = []
    n = 0
    for seed in seeds(args.seeds):
        for w in workloads:
            order = SIDES if n % 2 == 0 else SIDES[::-1]
            n += 1
            got = {}
            for side in order:
                got[side] = run_once(dirs[side], w, seed, seconds)
                r = got[side]["result"]
                print(f"{w} seed {seed} {side}: rc={got[side]['rc']} "
                      f"correct={ok(got[side])} "
                      + (" ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                         if r else " | ".join(got[side]["stderr_tail"])),
                      flush=True)
                log.append({"workload": w, "seed": seed, "side": side,
                            "first": order[0], **got[side]})
            runs[w].append((got["parent"], got["change"]))
            if args.out:
                with open(args.out, "w") as fh:
                    json.dump(log, fh, indent=1)

    bad = [f"{e['workload']} seed {e['seed']} {e['side']}" for e in log if not ok(e)]
    for w in workloads:
        summarize(w, runs[w], bench["end_to_end"])
    print(f"\nruns failed or incorrect: {', '.join(bad) if bad else 'none'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
