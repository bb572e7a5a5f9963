#!/usr/bin/env python3
"""Steadiness check: are the benchmark's end-to-end metrics steady
enough for their bounds?

    python3 perfbench/steadiness.py --runs 10 --sets 2

Runs ``--sets`` independent sets of ``--runs`` untraced runs of every
workload in BENCHMARK.json (each run with its own seed), then prints,
per workload and metric, each set's quartiles and median next to the
metric's bound, and two verdicts:

* spread: (q3 - q1) / median within each set, which must stay within
  the bound (``setup_s`` is exempt) and should stay below a third of it;
* shift: how much worse the second set's median is than the first's,
  which must stay within the bound.

It also prints the mean wall time of a run, and the projected time of a
full schedule of 4 + 22 runs per workload against the 3,420 s it may
take. Raw results go to ``.perfbench/steadiness-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import quartiles  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict | None, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    took = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(f"{workload} seed {seed} exited {proc.returncode}\n{proc.stdout[-2000:]}\n")
        return None, took
    return json.loads(lines[-1]), took


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--seed-base", type=int, default=100)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results: dict[str, list[list[dict]]] = {w: [[] for _ in range(args.sets)] for w in workloads}
    durations: dict[str, list[float]] = {w: [] for w in workloads}
    failures = 0
    for s in range(args.sets):
        for w in workloads:
            for r in range(args.runs):
                seed = args.seed_base + 1000 * s + r
                out, took = run_once(w, seed, bench["run_seconds"])
                durations[w].append(took)
                if out is None or not out["correct"]:
                    failures += 1
                    continue
                results[w][s].append({k: v["value"] for k, v in out["metrics"].items()})
                print(f"set {s + 1} {w} seed {seed}: {took:.1f} s", flush=True)

    ok = failures == 0
    print(f"\n{'workload':14s} {'metric':12s} {'bound':>6s}  " + "  ".join(
        f"{'set' + str(s + 1) + ' q1/med/q3':>26s} {'spread':>7s}" for s in range(args.sets)) + f"  {'shift':>7s}")
    for w in workloads:
        for m, bound in bounds.items():
            cells, meds = [], []
            for s in range(args.sets):
                vals = [r[m] for r in results[w][s]]
                if not vals:
                    cells.append(f"{'no runs':>26s} {'':>7s}")
                    ok = False
                    continue
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                flag = "!" if m != "setup_s" and spread > bound else ("~" if m != "setup_s" and spread > bound / 3 else " ")
                ok &= flag != "!"
                cells.append(f"{q1:8.3f}/{med:8.3f}/{q3:8.3f} {spread:6.3f}{flag}")
            shift = meds[-1] / meds[0] - 1 if len(meds) > 1 else 0.0
            ok &= shift <= bound
            print(f"{w:14s} {m:12s} {bound:6.2f}  " + "  ".join(cells) + f"  {shift:+6.3f}{'!' if shift > bound else ' '}")
    mean = {w: sum(d) / len(d) for w, d in durations.items() if d}
    for w, d in mean.items():
        print(f"mean run wall time {w}: {d:.1f} s")
    runs = 4 + 22 * len(workloads)
    print(f"projected time: {runs} runs x {sum(mean.values()) / len(mean):.1f} s = "
          f"{runs * sum(mean.values()) / len(mean):.0f} s (limit 3420 s)")
    print(f"failed runs: {failures}")
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", f"steadiness-{int(time.time())}.json"), "w") as f:
        json.dump({"results": results, "durations": durations}, f)
    print("steady" if ok else "NOT steady ('!' marks a metric outside its bound)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
