#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py OLD NEW

OLD and NEW are each a directory (read recursively) or a file holding the
standard output of ``perfbench/run.py`` runs, one or many per file. Each
run contributes its last two lines: the detail line (workload, seed,
trace, ...) and the result line.

For every workload and end-to-end metric of ``BENCHMARK.json`` it prints
each side's median and quartiles over its untraced runs, NEW's change
against OLD, and a verdict against the metric's bound:

  worse       NEW's median is worse than OLD's by more than the bound
  unresolved  not worse by the bound, but a side's quartile spread
              (Q3 - Q1) / median exceeds the bound
  better      every NEW run beats every OLD run, or the medians differ
              in NEW's favour by more than OLD's own quartile spread
  same        none of the above

Then, for traced runs, the per-layer medians and their change.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def runs(path):
    """(detail, result) pairs of every run captured under ``path``."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    out = []
    for name in files:
        detail = None
        with open(name, errors="replace") as fh:
            for line in fh:
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if not isinstance(obj, dict):
                    continue
                if "workload" in obj:
                    detail = obj
                elif "metrics" in obj and detail is not None:
                    out.append((detail, obj))
                    detail = None
    return out


def values(rs, workload, trace, metric):
    return [r["metrics"][metric]["value"] for d, r in rs
            if d["workload"] == workload and d["trace"] == trace
            and metric in r["metrics"]]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(old, new, better, bound):
    (o1, om, o3), (n1, nm, n3) = quartiles(old), quartiles(new)
    sign = 1 if better == "higher" else -1
    change = sign * (nm - om) / om
    spread = max((o3 - o1) / om, (n3 - n1) / nm)
    if change < -bound:
        return "worse"
    if spread > bound:
        return "unresolved"
    beats = all(sign * (n - o) > 0 for n in new for o in old)
    if beats or change > (o3 - o1) / om:
        return "better"
    return "same"


def fmt(x):
    return f"{x:.4g}"


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    old, new = runs(argv[1]), runs(argv[2])
    workloads = sorted({d["workload"] for d, _ in old + new})
    print("end to end (untraced runs)")
    print(f"{'workload':18} {'metric':16} {'n':>5} {'old q1/med/q3':>26} "
          f"{'new q1/med/q3':>26} {'change':>8} {'bound':>6}  verdict")
    worse = False
    for w in workloads:
        for m in spec["end_to_end"]:
            a, b = values(old, w, 0, m["name"]), values(new, w, 0, m["name"])
            if not a or not b:
                continue
            v = verdict(a, b, m["better"], m["bound"])
            worse |= v == "worse"
            qa, qb = quartiles(a), quartiles(b)
            change = (qb[1] - qa[1]) / qa[1]
            print(f"{w:18} {m['name']:16} {len(a):>2}/{len(b):<2} "
                  f"{'/'.join(map(fmt, qa)):>26} {'/'.join(map(fmt, qb)):>26} "
                  f"{change:>+8.1%} {m['bound']:>6}  {v}")
    print("\nper layer (traced runs, medians)")
    for w in workloads:
        for m in spec["per_layer"]:
            a, b = values(old, w, 1, m["name"]), values(new, w, 1, m["name"])
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            change = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
            print(f"{w:18} {m['name']:28} {fmt(ma):>10} -> {fmt(mb):<10} "
                  f"{change:>8}  ({m['better']} is better)")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
