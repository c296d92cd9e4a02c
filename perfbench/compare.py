#!/usr/bin/env python3
"""Compare benchmark result sets metric by metric against BENCHMARK.json.

    python3 perfbench/compare.py A [B]

A and B are result files written by run.py (perfbench/results/*.json) or
directories holding them. Results are grouped by workload and by trace
mode; untraced results are compared on the end-to-end metrics, traced ones
on the per-layer metrics. For each metric the tool prints each set's
median and spread (interquartile distance over the median, from
statistics.quantiles(values, n=4)), and with two sets the change of B's
median against A's, signed so that a positive change is worse. A metric
with a bound fails when a set's spread exceeds it (setup_s excepted) or
when B is worse than A by more than it. The exit code is 1 when any metric
fails, else 0.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(arg):
    files = (sorted(glob.glob(os.path.join(arg, "*.json")))
             if os.path.isdir(arg) else [arg])
    groups = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        key = (r["workload"], bool(r["trace"]))
        metrics = r["per_layer"] if r["trace"] else r["end_to_end"]
        g = groups.setdefault(key, {})
        for name, m in metrics.items():
            g.setdefault(name, []).append(m["value"])
    return groups


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / abs(med)


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sets = [load(a) for a in sys.argv[1:]]
    bad = 0
    for key in sorted(set().union(*sets)):
        workload, traced = key
        listed = spec["per_layer"] if traced else spec["end_to_end"]
        runs = [max((len(v) for v in s.get(key, {}).values()), default=0)
                for s in sets]
        print("%s, %s metrics, runs per set: %s" % (
            workload, "per-layer" if traced else "end-to-end",
            " vs ".join(map(str, runs))))
        for m in listed:
            name, bound = m["name"], m.get("bound")
            cols, meds, ok = [], [], True
            for s in sets:
                vals = s.get(key, {}).get(name)
                if not vals:
                    cols.append("%28s" % "missing")
                    ok = False
                    meds.append(None)
                    continue
                med, sp = spread(vals)
                meds.append(med)
                cols.append("median %12.6g spread %6.3f" % (med, sp))
                if bound is not None and name != "setup_s" and not sp <= bound:
                    ok = False
            change = ""
            if len(sets) == 2 and None not in meds and meds[0]:
                d = (meds[1] - meds[0]) / abs(meds[0])
                if m["better"] == "higher":
                    d = -d
                change = "worse by %+.3f" % d
                if bound is not None and d > bound:
                    ok = False
            bnd = "bound %.3f" % bound if bound is not None else ""
            verdict = "" if bound is None else ("ok" if ok else "FAIL")
            bad += verdict == "FAIL"
            print("  %-36s %s %-18s %-12s %s" % (name, "  ".join(cols), change,
                                                 bnd, verdict))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
