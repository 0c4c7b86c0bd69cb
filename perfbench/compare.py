#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit (A) and a
change (B):

    python3 perfbench/compare.py A_DIR_OR_FILES... -- B_DIR_OR_FILES...

Each argument is a run record written by run.py (.bench_build/records/
*.json) or a directory of them, or a saved stdout of run.py whose last
line is its result JSON. For every workload x end-to-end metric it prints
each side's median and quartiles, the share of (A, B) pairs B wins (ties
count for neither), and a verdict: "better"/"worse" only when B wins or
loses at least nine tenths of the pairs and the medians differ by more
than A's interquartile spread, "within bound" when B's median is no worse
than A's by more than the metric's bound, and "unresolved" when A's own
spread exceeds the bound.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    """{(workload, metric): [values]} from records or saved stdout."""
    out = {}
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in sorted(os.listdir(p)) if f.endswith(".json")]
        else:
            files.append(p)
    for f in files:
        text = open(f).read().strip()
        try:
            rec = json.loads(text)
        except json.JSONDecodeError:
            rec = json.loads(text.splitlines()[-1])
        if rec.get("trace") == 1:
            continue
        workload = rec.get("workload") or workload_from_stdout(text)
        metrics = rec["metrics"]
        for k, v in metrics.items():
            v = v["value"] if isinstance(v, dict) else v
            out.setdefault((workload, k), []).append(v)
        for k, v in rec.get("extra", {}).items():
            out.setdefault((workload, k), []).append(v)
    return out


def workload_from_stdout(text):
    for line in text.splitlines():
        if line.startswith("workload "):
            return line.split()[1]
    return "?"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(argv):
    if "--" not in argv:
        print(__doc__)
        return 2
    i = argv.index("--")
    a, b = load(argv[:i]), load(argv[i + 1:])
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    print(f"{'workload':<16} {'metric':<22} {'A q1/med/q3':>32} {'B q1/med/q3':>32} "
          f"{'B wins':>7}  verdict")
    for key in sorted(set(a) & set(b)):
        workload, metric = key
        va, vb = a[key], b[key]
        m = spec.get(metric, {"better": "higher" if metric.endswith("per_s") else "lower",
                              "bound": None})
        lower = m["better"] == "lower"
        qa, qb = quartiles(va), quartiles(vb)
        pairs = [(x, y) for x in va for y in vb]
        wins = sum((y < x) if lower else (y > x) for x, y in pairs)
        losses = sum((y > x) if lower else (y < x) for x, y in pairs)
        spread = (qa[2] - qa[0])
        delta = qb[1] - qa[1]
        worse = delta if lower else -delta
        bound = m.get("bound")
        if wins >= 0.9 * len(pairs) and abs(delta) > spread:
            verdict = "better"
        elif losses >= 0.9 * len(pairs) and abs(delta) > spread and (
                bound is None or worse > bound * abs(qa[1])):
            verdict = "worse"
        elif bound is not None and spread > bound * abs(qa[1]):
            verdict = "unresolved"
        elif bound is not None:
            verdict = "within bound" if worse <= bound * abs(qa[1]) else "worse"
        else:
            verdict = "no bound"
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{workload:<16} {metric:<22} {fmt(qa):>32} {fmt(qb):>32} "
              f"{wins / len(pairs):>7.0%}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
