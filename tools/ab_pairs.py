#!/usr/bin/env python3
"""Parent/change A/B pairs of the repository benchmark.

    python tools/ab_pairs.py --parent HEAD~1 --pairs 10 --seed 101 --workload etl_stream

Checks the parent revision out into a temporary ``git worktree`` and
runs ``perfbench/run.py`` (untraced, for ``BENCHMARK.json``'s
``run_seconds``) in it and in this checkout, one pair per seed
(``--seed``, ``--seed + 1``, …), alternating which side runs first.
For each workload and end-to-end metric of ``BENCHMARK.json`` it prints
each side's median and quartiles and the change's win rate (ties count
for neither side), and whether a gain may be claimed: the change wins
at least nine tenths of the pairs and the medians differ by more than
the parent's interquartile spread.

The change side is this checkout's working tree, committed or not. Each
run's JSON result line is appended to ``--out`` when given. Nothing in
``perfbench/`` is modified; both sides run their own copy of it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(tree: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One untraced benchmark run in ``tree``: its metric values, or
    None when the run failed or printed no result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"  run failed (exit {proc.returncode}): {proc.stderr.strip()[-300:]}", flush=True)
        return None
    if not result.get("correct"):
        print(f"  run had {result.get('failed')} failed checks", flush=True)
    return {k: m["value"] for k, m in result["metrics"].items()}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def report(workload: str, metrics: list[dict], pairs: list[tuple[dict, dict]]) -> None:
    print(f"\n{workload}: {len(pairs)} complete pairs")
    print(f"  {'metric':14s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s}  wins  claim")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [p[name] for p, _ in pairs]
        b = [c[name] for _, c in pairs]
        if not a:
            continue
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        pq1, pmed, pq3 = quartiles(a)
        cq1, cmed, cq3 = quartiles(b)
        better = cmed < pmed if lower else cmed > pmed
        claim = wins >= 0.9 * len(pairs) and better and abs(cmed - pmed) > pq3 - pq1
        print(
            f"  {name:14s} {pmed:10.4f} [{pq1:8.4f}, {pq3:8.4f}] {cmed:10.4f} [{cq1:8.4f}, {cq3:8.4f}]"
            f"  {wins:2d}/{len(pairs):<2d} {'gain' if claim else '-'}"
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--workload", action="append", help="default: every workload of BENCHMARK.json")
    ap.add_argument("--out", help="append each run's metrics here, one JSON line per run")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]

    parent_tree = tempfile.mkdtemp(prefix="ab_parent_")
    subprocess.run(["git", "worktree", "add", "--detach", parent_tree, args.parent], cwd=ROOT, check=True)
    results = {w: [] for w in workloads}
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            order = [("parent", parent_tree), ("change", ROOT)]
            if i % 2:
                order.reverse()
            for w in workloads:
                got = {}
                for side, tree in order:
                    print(f"pair {i + 1}/{args.pairs} {w} seed {seed}: {side}", flush=True)
                    got[side] = run_bench(tree, w, seed, seconds)
                    if args.out and got[side] is not None:
                        with open(args.out, "a") as f:
                            f.write(json.dumps({"workload": w, "seed": seed, "side": side, "metrics": got[side]}) + "\n")
                if got["parent"] is not None and got["change"] is not None:
                    results[w].append((got["parent"], got["change"]))
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent_tree], cwd=ROOT)

    for w in workloads:
        report(w, bench["end_to_end"], results[w])
    return 0


if __name__ == "__main__":
    sys.exit(main())
