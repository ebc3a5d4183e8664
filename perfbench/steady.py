"""Steadiness check: two sets of runs of the same checkout, compared.

    python3 perfbench/steady.py

Runs two sets of ten runs of every workload in BENCHMARK.json,
interleaved, each run `perfbench/run.py` in its own process with its
own seed. For every workload and end-to-end metric it prints each
set's median and quartiles, the spread (interquartile distance over
the median), and whether both spreads and the shift between the two
medians (either way) stay within the metric's bound. The raw results
are saved under .perfbench/ in the checkout.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS, RUNS = 2, 10


def one_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n"
                           f"{out.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["info"] = json.loads(lines[-2])
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as the driver computes it."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def report(results: dict, spec: dict) -> bool:
    """Print the comparison table; True when every check holds."""
    ok_all = True
    for w, sets in results.items():
        print(f"\n{w}: {len(sets)} sets of {len(sets[0])} runs")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            rows = []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs]
                rows.append(spread(vals))
            cells = "  ".join(f"{med:10.4f} [{q1:.4f}, {q3:.4f}] {sp:6.1%}"
                              for med, q1, q3, sp in rows)
            first, second = rows[0][0], rows[1][0]
            shift = (second - first) / first if first else 0.0
            ok = all(sp <= bound for *_, sp in rows) and abs(shift) <= bound
            cells += f"  shift {shift:+6.1%}"
            ok_all &= ok
            print(f"  {name:12s} bound {bound:4.0%}  {cells}  {'ok' if ok else 'OUT'}")
    return ok_all


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    # runs are interleaved (run i of every workload and set, then run
    # i + 1), so a slow spell of the host lands in both sets instead of
    # showing up as a shift between them
    results = {w: [[] for _ in range(SETS)] for w in names}
    for i in range(RUNS):
        for w in names:
            for s in range(SETS):
                seed = 100 * (s + 1) + i
                t0 = time.time()
                r = one_run(w, seed, spec["run_seconds"])
                results[w][s].append(r)
                print(f"set {s + 1} {w} seed {seed}: {time.time() - t0:.0f} s "
                      f"correct={r['correct']}", file=sys.stderr, flush=True)
    path = os.path.join(ROOT, ".perfbench", f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(results, fh)
    print(f"saved {path}")
    return 0 if report(results, spec) else 1


if __name__ == "__main__":
    raise SystemExit(main())
