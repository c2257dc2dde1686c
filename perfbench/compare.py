"""Compare a parent and a change checkout on the benchmark, pair by pair.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--workload W ...]
        [--pairs 10] [--seconds S] [--seed 1000]

Both sides run this file's copy of the runner (identical benchmark code and
settings, ``--seconds`` defaulting to the benchmark's ``run_seconds``) from
the root of their own checkout. Pair ``i`` runs both sides
on seed ``--seed + i``; the side that goes first alternates. For every
workload x end-to-end metric it prints each side's median and quartiles
and one verdict:

- ``gain``: the change wins at least 9 of every 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's
  interquartile range;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: the parent's own spread (IQR / median) exceeds the
  bound, unless every change run beats every parent run;
- ``same``: none of the above.

The last stdout line is the whole table as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spec import END_TO_END, RUN_SECONDS, WORKLOADS  # noqa: E402


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """Section 8 rule for one workload x metric; ``parent[i]`` and
    ``change[i]`` are pair ``i``."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gap = sign * (cmed - pmed)  # > 0 means the change is better
    spread = (pq3 - pq1) / abs(pmed) if pmed else float("inf")
    worse_by = -gap / abs(pmed) if pmed else 0.0
    dominates = (min(change) > max(parent)) if better == "higher" else (max(change) < min(parent))
    if wins * 10 >= 9 * len(parent) and gap > (pq3 - pq1):
        v = "gain"
    elif spread > bound and not dominates:
        v = "unresolved"
    elif worse_by > bound:
        v = "regression"
    else:
        v = "same"
    return {
        "parent": {"q1": pq1, "median": pmed, "q3": pq3},
        "change": {"q1": cq1, "median": cmed, "q3": cq3},
        "wins": wins,
        "pairs": len(parent),
        "spread": spread,
        "verdict": v,
    }


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {out.returncode}\n{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} reported incorrect output")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--seed", type=int, default=1000)
    args = ap.parse_args(argv)
    if args.pairs < 10:
        ap.error("--pairs must be at least 10")

    rows = []
    for w in args.workload or list(WORKLOADS):
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                path = args.parent if side == "parent" else args.change
                runs[side].append(run_once(path, w, args.seed + i, args.seconds))
                print(f"{w} pair {i} {side}: {runs[side][-1]}", file=sys.stderr, flush=True)
        for m, (unit, better, bound) in END_TO_END.items():
            v = verdict([r[m] for r in runs["parent"]], [r[m] for r in runs["change"]],
                        better, bound)
            rows.append({"workload": w, "metric": m, "unit": unit, "bound": bound, **v})

    print("| workload | metric | parent median [q1, q3] | change median [q1, q3] | wins | verdict |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        p, c = r["parent"], r["change"]
        print(f"| {r['workload']} | {r['metric']} ({r['unit']}) "
              f"| {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}] "
              f"| {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}] "
              f"| {r['wins']}/{r['pairs']} | {r['verdict']} |")
    print(json.dumps(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
