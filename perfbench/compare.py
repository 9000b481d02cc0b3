#!/usr/bin/env python3
"""Summarize or compare sets of benchmark records.

    python3 perfbench/compare.py RESULTS_DIR
    python3 perfbench/compare.py PARENT_RESULTS_DIR CHANGE_RESULTS_DIR

With one directory, prints for each workload and end-to-end metric the
median and the quartile spread as a share of the median, and the tracing
overhead: the median traced pass time (trace.pass_s) minus the median
untraced pass_s.

Each directory holds the per-run records perfbench/run.py writes under
<build>/results/ (untraced runs only are used). Metrics come from the
correct runs. The incorrect runs are counted and printed, and a change with
more incorrect runs than the parent is worse whatever its metrics. Runs are
paired in the order they were made, so alternate parent and change runs
when collecting them.
For each workload and end-to-end metric this prints both medians and
quartiles, the share of pairs the change won, and a verdict:

  improved    the change won at least 9 of 10 pairs (ties count for
              neither side) and the medians differ by more than the
              parent's own quartile spread;
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json;
  unchanged   within the bound, and the spread of each side is within it;
  unresolved  within the bound, but a side's spread is wider than the bound
              and not every change run beats every parent run.

Exit code 1 if anything is worse, otherwise 0.
"""

import glob
import json
import os
import statistics
import sys


def load(d, trace=0):
    """Correct runs and the number of incorrect ones, per workload."""
    runs, failed = {}, {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") != trace:
            continue
        if r.get("correct"):
            runs.setdefault(r["workload"], []).append(r)
        else:
            failed[r["workload"]] = failed.get(r["workload"], 0) + 1
    return runs, failed


def summarize(d, spec):
    (plain, failed), (traced, _) = load(d), load(d, trace=1)
    for w in sorted(set(plain) | set(traced) | set(failed)):
        runs = plain.get(w, [])
        print(f"{w}: {len(runs)} correct untraced runs, {failed.get(w, 0)} incorrect, "
              f"{len(traced.get(w, []))} traced runs")
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in runs]
            if xs:
                q1, med, q3 = quartiles(xs)
                print(f"  {m['name']:<16} median {med:10.3f} {m['unit']:<5} "
                      f"spread {(q3 - q1) / med:.3f} (bound {m['bound']})")
        if runs and traced.get(w):
            t = statistics.median(r["metrics"]["trace.pass_s"]["value"] for r in traced[w])
            p = statistics.median(r["metrics"]["pass_s"]["value"] for r in runs)
            print(f"  tracing overhead {t - p:+.3f} s ({(t - p) / p:+.1%} of pass_s)")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(parent, change, lower_better, bound):
    sign = 1 if lower_better else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    q1p, mp, q3p = quartiles(parent)
    q1c, mc, q3c = quartiles(change)
    worse_by = sign * (mc - mp) / mp if mp else 0.0
    spread = max((q3p - q1p) / mp if mp else 0.0, (q3c - q1c) / mc if mc else 0.0)
    if pairs and wins >= 0.9 * len(pairs) and abs(mc - mp) > (q3p - q1p) and sign * (mc - mp) < 0:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread <= bound or all(sign * (c - p) < 0 for c in change for p in parent):
        v = "unchanged"
    else:
        v = "unresolved"
    return v, wins, len(pairs), (q1p, mp, q3p), (q1c, mc, q3c)


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if len(sys.argv) == 2:
        summarize(sys.argv[1], spec)
        return
    (parent, pfail), (change, cfail) = load(sys.argv[1]), load(sys.argv[2])
    any_worse = False
    for w in [w["name"] for w in spec["workloads"]]:
        pf, cf = pfail.get(w, 0), cfail.get(w, 0)
        print(f"{w}: {len(parent.get(w, []))} correct and {pf} incorrect parent runs, "
              f"{len(change.get(w, []))} correct and {cf} incorrect change runs")
        if cf > pf:
            # A speed-up does not count when more runs fail than at the parent.
            print(f"  incorrect runs {pf} -> {cf}  worse")
            any_worse = True
        if w not in parent or w not in change:
            print("  no correct runs on one side")
            continue
        for m in spec["end_to_end"]:
            n = m["name"]
            p = [r["metrics"][n]["value"] for r in parent[w]]
            c = [r["metrics"][n]["value"] for r in change[w]]
            v, wins, npairs, qp, qc = verdict(p, c, m["better"] == "lower", m["bound"])
            any_worse |= v == "worse"
            print(f"  {n:<16} parent {qp[1]:10.3f} [{qp[0]:.3f}, {qp[2]:.3f}]  "
                  f"change {qc[1]:10.3f} [{qc[0]:.3f}, {qc[2]:.3f}] {m['unit']:<5} "
                  f"won {wins}/{npairs}  {v}")
    sys.exit(1 if any_worse else 0)


if __name__ == "__main__":
    main()
