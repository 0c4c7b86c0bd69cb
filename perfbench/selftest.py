"""Self-tests of the benchmark itself (python3 perfbench/run.py --selftest):

1. the input generator gives byte-identical sources for one seed;
2. under the benchmark's `noop` sink the executed plans of g16_union_agg
   and g15_overlay still hold the union/overlay expressions, which a
   `count()` lets the optimizer prune;
3. a query that raises is reported as failed and records no time.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def main(args):
    build_dir = os.path.join(os.getcwd(), os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest", dir=build_dir)
    try:
        ok = gen.selftest(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       stdout=subprocess.PIPE, text=True)
    print(p.stdout)
    recs = sorted(glob.glob(os.path.join(build_dir, "records", "selftest-1-t0-*.json")),
                  key=os.path.getmtime)
    if not recs:
        print("FAIL no selftest record written")
        return 1
    r = json.load(open(recs[-1]))

    def check(cond, what):
        nonlocal ok
        print(("ok   " if cond else "FAIL ") + what)
        ok = ok and cond

    probe = "selftest_missing_table"
    check(probe in r["wrong"] and probe not in r["ops"],
          "a raising query is reported failed and records no time")
    check(r["failed"] >= 1 and not r["correct"] and p.returncode != 0,
          "a failure makes the run incorrect and the exit code non-zero")
    check(all(q in r["ops"] for q in ("g16_union_agg", "g15_overlay")),
          "g16_union_agg and g15_overlay are timed and match their oracles")
    plans = r["plans"] or {}
    for q, exprs in (("g16_union_agg", ["st_union_agg"]),
                     ("g15_overlay", ["st_union", "st_intersection"])):
        pl = plans.get(q, {})
        check(all(e in pl.get("noop", "") for e in exprs),
              f"{q}: executed plan under noop keeps {exprs}")
        kept = all(e in pl.get("count", "") for e in exprs)
        print(f"info {q}: count() plan {'keeps' if kept else 'prunes'} {exprs}")
    return 0 if ok else 1
