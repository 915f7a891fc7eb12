#!/usr/bin/env python3
"""Check that the benchmark is steady: run a workload in two sets of
repeated runs (each run with its own seed) and compare the sets.

    python3 loadbench/steady.py --workload tsdb_ingest --runs 10

Each run lasts BENCHMARK.json's run_seconds; the seeds are 1000, 1001, ...
For every end-to-end metric it prints each set's median and quartiles and
the spread (third minus first quartile, as a share of the median, with
statistics.quantiles(values, n=4)). A set is steady when every spread is
within the metric's bound from BENCHMARK.json; the sets agree when the
second set's median differs from the first set's by no more than the
bound, in either direction. Exit code 0 only if both hold.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SETS = 2
SEED0 = 1000


def run_once(workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        raise SystemExit(f"run with seed {seed} failed (exit {r.returncode})")
    return json.loads(lines[-1])


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]

    sets = []
    for s in range(SETS):
        runs = []
        for i in range(a.runs):
            seed = SEED0 + s * a.runs + i
            res = run_once(a.workload, seed, seconds)
            runs.append(res)
            vals = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                            for m in metrics)
            print(f"set {s + 1} seed {seed}: {vals}", flush=True)
        sets.append(runs)

    ok = True
    print(f"\n{a.workload}: {SETS} sets x {a.runs} runs, {seconds} s each")
    print(f"{'metric':<24} {'bound':>6}  " + "  ".join(
        f"{'set' + str(s + 1) + ' median [q1, q3] spread':>44}" for s in range(SETS))
        + "  verdict")
    for m in metrics:
        name, bound = m["name"], m["bound"]
        stats = [summarize([r["metrics"][name]["value"] for r in runs]) for runs in sets]
        notes, bad = [], False
        for med, q1, q3, spread in stats:
            if spread > bound:
                notes.append(f"spread {spread:.3f} > bound")
                bad = True
            elif spread > bound / 3:
                notes.append(f"spread {spread:.3f} > bound/3")
        first = stats[0][0]
        for med, *_ in stats[1:]:
            gap = abs(med - first) / first
            if gap > bound:
                notes.append(f"medians differ by {gap:.3f}")
                bad = True
        ok &= not bad
        cells = "  ".join(f"{med:>12.4f} [{q1:>10.4f}, {q3:>10.4f}] {spread:>6.3f}"
                          for med, q1, q3, spread in stats)
        print(f"{name:<24} {bound:>6.2f}  {cells}  {'; '.join(notes) or 'ok'}")
    print("sets agree within the bounds" if ok else "NOT steady within the bounds")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
