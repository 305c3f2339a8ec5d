#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (the sf0.001 corpus, taxi n=2k).

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes.  It checks that

- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) is emitted, with its unit, for each workload;
- in the traced run, each query's build + plan + exec spans are within 5% of
  the query's traced wall time, and the self times of an operation's spans
  add up to its wall time;
- a deliberately wrong query output counts as a failed operation and is
  listed by name;
- the count metrics of each workload's layers repeat exactly across two
  traced runs at the same seed (the others are printed; see README.md).

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

#: count metrics that must repeat exactly at one seed, per workload; the
#: rest of COUNTS are printed.  On taxi_etl a pass compiles more classes
#: than the codegen cache holds (100), and concurrent tasks set the order
#: of evictions, so ``codegen.compiles`` can differ by a few (README.md).
COUNTS = (
    "codegen.compiles",
    "harness.build_jobs",
    "operators.fencing.fence_calls",
    "sources.writers.files_written",
    "sources.writers.bytes_written",
)
EXACT = {
    "llm_curation": ("codegen.compiles", "harness.build_jobs", "operators.fencing.fence_calls"),
    "taxi_etl": ("sources.writers.files_written",),
}


def bench(workload: str, trace: int, seed: int = 7, *extra: str) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        capture_output=True,
        text=True,
        timeout=900,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace {trace} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def check_metrics(name: str, result: dict, want: dict[str, str], problems: list[str]) -> None:
    got = result["metrics"]
    for metric, unit in want.items():
        if metric not in got:
            problems.append(f"{name}: metric {metric} missing")
        elif got[metric].get("unit") != unit:
            problems.append(f"{name}: metric {metric} has unit {got[metric].get('unit')!r}, expected {unit!r}")
    extra = set(got) - set(want)
    if extra:
        problems.append(f"{name}: unexpected metrics {sorted(extra)}")
    if result["failed"]:
        problems.append(f"{name}: {result['failed']} of {result['attempted']} operations failed")


def check_spans(name: str, lines: list[str], problems: list[str]) -> None:
    path = next(line.split(": ", 1)[1] for line in lines if line.startswith("spans: "))
    spans = [json.loads(line) for line in open(path)]
    by_id = {s["id"]: s for s in spans}
    ops = defaultdict(dict)
    selfs = defaultdict(float)
    for s in spans:
        if s["op_id"] is None:
            continue
        if s["name"] == "op":
            ops[s["op_id"]]["op"] = s
        elif s["parent"] is not None and by_id[s["parent"]]["name"] == "op":
            ops[s["op_id"]][s["name"]] = s
        selfs[s["op_id"]] += s["self_s"]
    checked = 0
    for op_id, parts in ops.items():
        op = parts["op"]
        wall = op["end"] - op["start"]
        if abs(selfs[op_id] - wall) > 1e-3 + 1e-3 * wall:
            problems.append(f"{name} {op_id}: span self times sum to {selfs[op_id]:.4f}s, op took {wall:.4f}s")
        if "harness.build" in parts:
            phases = sum(parts[k]["end"] - parts[k]["start"] for k in ("harness.build", "catalyst.plan", "exec"))
            checked += 1
            if abs(phases - wall) > 0.05 * wall:
                problems.append(f"{name} {op_id}: build+plan+exec {phases:.4f}s vs op wall {wall:.4f}s (>5%)")
    if "llm" in name and not checked:
        problems.append(f"{name}: no query operation had build/plan/exec spans")


def main() -> int:
    problems: list[str] = []
    for workload in ("llm_curation", "taxi_etl"):
        res, _ = bench(workload, 0)
        check_metrics(f"{workload} trace 0", res, END_TO_END, problems)
        zero = [m for m, v in res["metrics"].items() if v["value"] <= 0]
        if zero:
            problems.append(f"{workload} trace 0: end-to-end metrics not > 0: {zero}")
        traced = []
        for _ in range(2):
            res, lines = bench(workload, 1)
            check_metrics(f"{workload} trace 1", res, PER_LAYER, problems)
            check_spans(f"{workload} trace 1", lines, problems)
            traced.append(res["metrics"])
        for metric in COUNTS:
            a, b = (t[metric]["value"] for t in traced)
            print(f"{workload} {metric}: {a} / {b}")
            if a != b and metric in EXACT[workload]:
                problems.append(f"{workload}: {metric} differs across two traced runs at one seed: {a} vs {b}")

    wrong = "dedup_minhash_signatures"
    res, lines = bench("llm_curation", 0, 7, "--corrupt", wrong)
    if res["failed"] < 1 or res["correct"]:
        problems.append(f"a wrong output of {wrong} did not count as failed: {res}")
    if not any(line.strip().startswith("FAILED") and wrong in line for line in lines):
        problems.append(f"the failing operation {wrong} is not listed by name")

    for p in problems:
        print("PROBLEM", p)
    print("self-test", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
