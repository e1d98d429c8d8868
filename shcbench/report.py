"""Traced-run reporter: run one workload at one seed untraced and traced,
three pairs of fresh processes in alternating order, and print
- the span self-time table of the last traced run,
- every per-layer metric of that run, reduced from the spans, /proc, the
  on-disk tables and Spark's event log, with a note for each layer the
  workload does not exercise,
- the tracing overhead per end-to-end metric: the median traced value
  against the median untraced one. On a shared 4-core virtual machine
  the speed drifted by 10-20 % over minutes, so one pair alone cannot
  tell the overhead from drift.

    python3 shcbench/report.py --workload pipeline --seed 1 --seconds 12
"""

from __future__ import annotations

import argparse
import statistics

from metrics import END_TO_END, PER_LAYER
from steadiness import run_once

PAIRS = 3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    plain, traced = [], []
    for i in range(PAIRS):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            res, _ = run_once(args.workload, args.seed, args.seconds, trace)
            (traced if trace else plain).append(res)
    last = traced[-1]
    print(f"workload {args.workload}, seed {args.seed}, {args.seconds:g} s, "
          f"{PAIRS} untraced/traced pairs\n")
    print(last["span_table"])
    print(f"\n{'per-layer metric':<42} {'value':>14} unit")
    for name, (unit, _) in PER_LAYER.items():
        print(f"{name:<42} {last['layers'][name]:>14.6g} {unit}")
    for note in last["notes"]:
        print(note)
    print(f"\n{'end-to-end metric':<28} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for name, (_, better) in END_TO_END.items():
        u = statistics.median(r["e2e"][name] for r in plain)
        t = statistics.median(r["e2e"][name] for r in traced)
        # overhead as the share by which tracing makes the metric worse
        worse = (t - u) / u if better == "lower" else (u - t) / u
        print(f"{name:<28} {u:>12.6g} {t:>12.6g} {worse:>+9.1%}")
    bad = sum(r["failed"] for r in plain + traced)
    print(f"\nfailed ops: {bad}")


if __name__ == "__main__":
    main()
