"""Steadiness of the benchmark: run one workload several times, each in a
fresh process and JVM, at seeds 1, 2, 3, ..., and print per end-to-end
metric the median, the quartiles, the spread (q3 - q1) / median and the
hypervisor steal of each run. The bounds in BENCHMARK.json are set from
this output (STEADINESS.md holds the committed one).

    python3 shcbench/steadiness.py --workload serve --runs 10 --seconds 12
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int = 0) -> tuple:
    """(detail result, wall seconds) of one run.py invocation."""
    work = os.path.join(os.path.dirname(HERE), ".shcbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.NamedTemporaryFile(suffix=".json", dir=work) as tmp:
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--detail", tmp.name],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            cwd=os.path.dirname(HERE),
        )
        wall = time.perf_counter() - t0
        with open(tmp.name) as fh:
            return json.load(fh), wall


def spread(values: list) -> tuple:
    """(median, q1, q3, (q3 - q1) / median), quartiles from statistics.quantiles(n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    results = []
    print(f"workload {args.workload}: {args.runs} runs of {args.seconds:g} s")
    print(f"{'seed':>5} {'wall_s':>7} {'steal_s':>8} {'ok':>3} {'ops':>4}  " +
          " ".join(f"{m:>14}" for m in END_TO_END))
    for i in range(args.runs):
        seed = 1 + i
        res, wall = run_once(args.workload, seed, args.seconds)
        results.append(res)
        print(f"{seed:>5} {wall:>7.1f} {res['steal_s']:>8.2f} {res['failed'] == 0!s:>3} "
              f"{sum(res['op_counts'].values()):>4}  " +
              " ".join(f"{res['e2e'][m]:>14.6g}" for m in END_TO_END), flush=True)
    print(f"\n{'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for m in END_TO_END:
        med, q1, q3, sp = spread([r["e2e"][m] for r in results])
        print(f"{m:<28} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} {sp:>8.3f}")
    failed = sum(r["failed"] for r in results)
    print(f"\nops attempted {sum(r['attempted'] for r in results)}, failed {failed}")


if __name__ == "__main__":
    main()
