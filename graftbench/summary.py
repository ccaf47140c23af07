#!/usr/bin/env python3
"""Steadiness report over a set of benchmark runs.

    python3 graftbench/summary.py                 # every kept artifact
    python3 graftbench/summary.py a.json b.json   # chosen artifacts

For every workload (traced and untraced runs apart) and every metric, prints
the median, the quartiles and the spread (interquartile range / median), as
statistics.quantiles(values, n=4) gives them. The host's state rides along:
the 1-minute load average and graft.Bench's calibration query (wall and
process CPU) before and after each timed window, the share of CPU time the
host withheld (steal) over the window, and when each set-up phase ended.
The tracing overhead is the traced runs' op_p50_s and ops_per_s next to the
untraced ones.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ARTIFACTS = os.path.join(os.path.dirname(HERE), ".graftbench_run", "artifacts")


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def row(name, values):
    q1, med, q3 = quartiles(values)
    spread = (q3 - q1) / med if med else float("nan")
    return (f"  {name:<26} n={len(values):<3} median={med:<12.6g} "
            f"q1={q1:<12.6g} q3={q3:<12.6g} spread={spread:.3f}")


def main(paths):
    runs = defaultdict(list)
    for p in paths or sorted(glob.glob(os.path.join(ARTIFACTS, "*.json"))):
        with open(p) as fh:
            r = json.load(fh)
        runs[(r["workload"], r["trace"])].append(r)
    if not runs:
        sys.exit("no artifacts")
    for (wl, trace), rs in sorted(runs.items()):
        print(f"{wl} ({'traced' if trace else 'untraced'}, {len(rs)} runs, "
              f"seeds {sorted(r['seed'] for r in rs)})")
        for key in ("end_to_end", "per_layer"):
            for m in sorted(rs[0][key]):
                print(row(m, [r[key][m] for r in rs]))
        for when in ("before_window", "after_window"):
            print(row(f"{when}.loadavg_1m",
                      [float(r[when]["loadavg"].split()[0]) for r in rs]))
            for m in ("calib_wall_s", "calib_cpu_s"):
                print(row(f"{when}.{m}", [r[when][m] for r in rs]))
        if all("window_steal_frac" in r for r in rs):
            print(row("window_steal_frac",
                      [r["window_steal_frac"] for r in rs]))
            for m in rs[0]["setup_marks"]:
                print(row(f"setup_marks.{m}",
                          [r["setup_marks"][m] for r in rs]))
        plain = runs.get((wl, False))
        if trace and plain:
            for traced, untraced in (("trace.op_p50_s", "op_p50_s"),
                                     ("trace.ops_per_s", "ops_per_s")):
                t = statistics.median(r["per_layer"][traced] for r in rs)
                u = statistics.median(r["end_to_end"][untraced]
                                      for r in plain)
                print(f"  tracing overhead: {untraced} traced={t:.6g} "
                      f"untraced={u:.6g} ratio={t / u:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
