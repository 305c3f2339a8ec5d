#!/usr/bin/env python3
"""A/B comparison of two checkouts with the same benchmark code.

    python3 perfbench/ab.py --parent ../parent --change .

Both sides run this file's ``run.py`` (so the benchmark code and settings
are identical), each from its own checkout.  For every workload in
BENCHMARK.json it runs 10 parent/change pairs, one seed per pair (1000,
1001, ...), alternating which side
runs first, then reports for every end-to-end metric each side's median and
quartiles and a verdict:

- ``improved``: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's own quartile
  spread;
- ``regressed``: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
- ``unresolved``: the parent's own spread is wider than the bound, and not
  every change run beats every parent run;
- ``unchanged``: none of the above.

Results go to ``perfbench/runs/c<N>/ab-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
#: pairs per workload: the fewest the 9-of-10 rule can be applied to
PAIRS = 10


def run_side(cwd: str, workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{cwd}: {workload} seed {seed} exited {proc.returncode}: {proc.stderr[-500:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    sign = 1.0 if better == "lower" else -1.0
    pq = statistics.quantiles(parent, n=4)
    cq = statistics.quantiles(change, n=4)
    pm, cm = statistics.median(parent), statistics.median(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    spread = pq[2] - pq[0]
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    if wins >= 0.9 * len(parent) and abs(cm - pm) > spread and worse_by < 0:
        result = "improved"
    elif worse_by > bound:
        result = "regressed"
    elif spread / pm > bound and not all(sign * (p - c) > 0 for p in parent for c in change):
        result = "unresolved"
    else:
        result = "unchanged"
    return {
        "verdict": result,
        "parent": {"median": pm, "q1": pq[0], "q3": pq[2]},
        "change": {"median": cm, "q1": cq[0], "q3": cq[2]},
        "change_over_parent": cm / pm if pm else None,
        "wins": wins,
        "pairs": len(parent),
    }


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    args = ap.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    report: dict = {"cpus": len(os.sched_getaffinity(0)), "parent": args.parent, "change": args.change, "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        sides: dict[str, list[dict]] = {"parent": [], "change": []}
        for i in range(PAIRS):
            seed = 1000 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                out = run_side(getattr(args, side), w, seed, bench["run_seconds"])
                if out["failed"]:
                    print(f"{w} seed {seed} {side}: {out['failed']} of {out['attempted']} operations failed")
                sides[side].append(out)
        rows = {}
        for name, m in metrics.items():
            vals = {s: [o["metrics"][name]["value"] for o in sides[s]] for s in sides}
            rows[name] = verdict(vals["parent"], vals["change"], m["better"], m["bound"])
            r = rows[name]
            print(
                f"{w:<14} {name:<12} parent {r['parent']['median']:.4f} [{r['parent']['q1']:.4f}, {r['parent']['q3']:.4f}]"
                f"  change {r['change']['median']:.4f} [{r['change']['q1']:.4f}, {r['change']['q3']:.4f}]"
                f"  x{r['change_over_parent']:.3f}  wins {r['wins']}/{r['pairs']}  {r['verdict']}"
            )
        failed = {s: sum(o["failed"] for o in sides[s]) for s in sides}
        report["workloads"][w] = {"metrics": rows, "failed": failed}
        print(f"{w:<14} failed operations: parent {failed['parent']}, change {failed['change']}")

    out_dir = os.path.join(HERE, "runs", f"c{report['cpus']}")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"ab-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"written {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
