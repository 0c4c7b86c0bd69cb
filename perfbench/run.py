#!/usr/bin/env python3
"""Benchmark runner: builds the engine from source, generates seeded
inputs, runs one workload in one JVM, checks every output and prints the
metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. The last line of stdout is one
JSON object {"correct", "attempted", "failed", "metrics"}; the lines above
it print every figure by name and unit. The exit code is 0 only when every
output was correct. See perfbench/BENCH.md for workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import struct
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes per workload. Query workloads use the oracle schema at scale
# factor `sf`; `warm_*` sizes the small input of the set-up's first touch.
WORKLOADS = {
    "etl_pipeline": {"rows": 40000, "sources": 4, "warm_rows": 2000},
    "kernel_queries": {"sf": 0.0005, "warm_sf": 0.0001},
    "lake_loop_queries": {"sf": 0.0005, "warm_sf": 0.0001},
    "selftest": {"sf": 0.0005, "warm_sf": 0.0001},
}
PROBE_ROWS = 20000          # footprints the traced run's operator probe uses
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def scalac(sources, out, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", classpath] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(root, build_dir, jars):
    """Compile the engine and the harness unless the sources are unchanged."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not main_src:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    h = hashlib.sha256()
    for p in main_src + harness_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "classes")
    harness = os.path.join(build_dir, "harness")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, harness
    os.makedirs(build_dir, exist_ok=True)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    scalac(main_src, classes, cp)
    scalac(harness_src, harness, classes + os.pathsep + cp)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"build: {time.time() - t0:.1f} s", flush=True)
    return classes, harness


def gen_footprint_set(out, seed, rows, sources, cores):
    m = gen.gen_footprints(out, seed, rows, sources)
    # merge-pqs batch cap: at least `cores` batches, and no source larger
    # than one batch (the bin-packer never splits a file)
    m["max_rows"] = max(max(s["valid"] for s in m["sources"]), math.ceil(m["valid_rows"] / cores))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f)
    return m


def make_inputs(workload, seed, run_dir, cores):
    spec = WORKLOADS[workload]
    data, warm, probe = (os.path.join(run_dir, d) for d in ("data", "warm", "probe"))
    info = {"seed": seed}
    if workload == "etl_pipeline":
        m = gen_footprint_set(data, seed, spec["rows"], spec["sources"], cores)
        gen_footprint_set(warm, seed + 1, spec["warm_rows"], spec["sources"], cores)
        probe = data
        info.update(rows=m["rows"], valid_rows=m["valid_rows"], sources=len(m["sources"]),
                    crs_mix=m["crs_mix"], source_bytes=m["source_bytes"], max_rows=m["max_rows"])
    else:
        rows = gen.gen_tables(data, seed, spec["sf"])
        gen.gen_tables(warm, seed + 1, spec["warm_sf"])
        gen_footprint_set(probe, seed, PROBE_ROWS, 4, cores)
        info.update(sf=spec["sf"], rows=rows,
                    source_bytes=sum(os.path.getsize(p) for p in glob.glob(data + "/*.parquet")))
    return data, warm, probe, info


# --- correctness -------------------------------------------------------------

def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def canon(rel):
    """Column-order and row-order insensitive form of a result (the
    project's oracle comparison: columns by name, rows sorted, repr'd)."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_cell(r[i]) for i in order) for r in rel.fetchall())
    return sorted(cols), rows


def check_queries(res, data, work):
    """Per query: None when correct, else the reason."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = res.get("oracle_sql", {})
    names = list(res["passes"][0]["ops"])
    out = {}
    for n in names:
        errs = [p["ops"][n] for p in res["passes"] if isinstance(p["ops"][n], str)]
        if errs:
            out[n] = "raised: " + errs[0]
            continue
        if n in res.get("verify_errors", {}):
            out[n] = "raised: " + res["verify_errors"][n]
            continue
        try:
            got = con.sql(f"SELECT * FROM '{work}/verify/{n}/*.parquet'")
            if n in oracle:
                a, b = canon(got), canon(con.sql(oracle[n]))
                out[n] = None if a == b else (
                    f"columns {a[0]} vs oracle {b[0]}" if a[0] != b[0]
                    else f"{len(a[1])} rows vs oracle {len(b[1])}, first diff "
                         f"{next(((x, y) for x, y in zip(a[1], b[1]) if x != y), None)}")
            else:
                out[n] = None if got.fetchall() else "empty result (no oracle)"
        except Exception as e:  # unreadable output counts as wrong
            out[n] = f"check failed: {e}"
    return out


def wkb_bbox(b):
    """Bounding box of a 2D WKB Polygon or MultiPolygon."""
    xs, ys = [], []

    def geom(off):
        bo = "<" if b[off] == 1 else ">"
        t = struct.unpack_from(bo + "I", b, off + 1)[0]
        off += 5
        if t == 6:
            n = struct.unpack_from(bo + "I", b, off)[0]
            off += 4
            for _ in range(n):
                off = geom(off)
            return off
        if t != 3:
            raise ValueError(f"unexpected WKB type {t}")
        rings = struct.unpack_from(bo + "I", b, off)[0]
        off += 4
        for _ in range(rings):
            n = struct.unpack_from(bo + "I", b, off)[0]
            off += 4
            for i in range(n):
                x, y = struct.unpack_from(bo + "dd", b, off + 16 * i)
                xs.append(x)
                ys.append(y)
            off += 16 * n
        return off

    geom(0)
    return min(xs), min(ys), max(xs), max(ys)


def geom_digest(files):
    """Row count and order-insensitive checksum of the geometry column."""
    n, acc = 0, 0
    for f in files:
        for g in pq.read_table(f, columns=["geom"]).column("geom").to_pylist():
            n += 1
            acc = (acc + int.from_bytes(hashlib.blake2b(g, digest_size=8).digest(), "little")) % (1 << 64)
    return n, acc


def check_etl(res, data):
    """The pipeline's invariants; returns a list of violations."""
    m = json.load(open(os.path.join(data, "manifest.json")))
    out = res["etl_out"]
    conv = sorted(glob.glob(f"{out}/conv/*/*.parquet"))
    merged = sorted(glob.glob(f"{out}/merged/*/*.parquet"))
    bad = [f"{n} raised: {e}" for n, e in res["verify_errors"].items()]
    for p in res["passes"]:
        for n, v in p["ops"].items():
            if isinstance(v, str):
                bad.append(f"{n} raised: {v}")
    if bad:
        return bad
    nc, sc = geom_digest(conv)
    nm, sm = geom_digest(merged)
    if not (m["valid_rows"] == nc == nm):
        bad.append(f"row counts source-valid {m['valid_rows']} converted {nc} merged {nm}")
    if sc != sm:
        bad.append("geometry checksum differs between converted and merged")
    if len(conv) != len(m["sources"]):
        bad.append(f"{len(conv)} converted files for {len(m['sources'])} sources")
    for f in merged:
        rows = pq.ParquetFile(f).metadata.num_rows
        if rows > m["max_rows"]:
            bad.append(f"{os.path.basename(f)}: {rows} rows > maxRows {m['max_rows']}")
    for f, ok in res["hilbert_sorted_files"].items():
        if ok is not True:
            bad.append(f"Hilbert keys decrease inside {f}")
    if set(res["hilbert_sorted_files"]) != set(conv + merged):
        bad.append("Hilbert order not checked on every file")
    for f in conv:
        meta = pq.ParquetFile(f).metadata.metadata or {}
        if b"geo" not in meta:
            bad.append(f"no geo footer on {f}")
            continue
        bbox = json.loads(meta[b"geo"])["columns"]["geom"].get("bbox")
        boxes = [wkb_bbox(g) for g in pq.read_table(f, columns=["geom"]).column("geom").to_pylist()]
        if boxes:
            data_box = (min(b[0] for b in boxes), min(b[1] for b in boxes),
                        max(b[2] for b in boxes), max(b[3] for b in boxes))
            if not bbox or not (bbox[0] <= data_box[0] and bbox[1] <= data_box[1]
                                and bbox[2] >= data_box[2] and bbox[3] >= data_box[3]):
                bad.append(f"geo bbox {bbox} does not contain data {data_box} in {f}")
            if not (89.9 <= data_box[0] and data_box[2] <= 150.1 and -10.1 <= data_box[1] and data_box[3] <= 55.1):
                bad.append(f"normalized data outside the source world in {f}: {data_box}")
    heat = duckdb.sql(f"SELECT CAST(SUM(num_recs) AS BIGINT), COUNT(*) FROM "
                      f"'{out}/heatmap/*.parquet'").fetchone()
    if heat[0] != nc:
        bad.append(f"heatmap total {heat[0]} != rows {nc}")
    res["stored_bytes"] = sum(os.path.getsize(f) for f in merged)
    res["merged_rows"] = nm
    res["merged_files"] = len(merged)
    return bad


# --- metrics -----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def metrics(res, wrong):
    """End-to-end figures from the raw passes; ops in `wrong` never
    contribute a time."""
    passes = res["passes"]
    names = list(passes[0]["ops"])
    ok = [n for n in names if n not in wrong]
    per_op = {n: median([p["ops"][n] for p in passes]) for n in ok}
    walls = [sum(p["ops"][n] for n in ok) for p in passes]
    attempted = len(passes) * len(names)
    failed = len(passes) * (len(names) - len(ok))
    m = {
        "setup_s": median(res["setup_s"]),
        "wall_s": median(walls),
        "op_geomean_s": math.exp(statistics.fmean(math.log(per_op[n]) for n in ok)) if ok else float("nan"),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    return m, per_op, attempted, failed


def self_times(spans):
    """(kind, name, duration, self time) per span; self time is the
    duration minus the union of the children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        ivs = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, end = 0, s["start_ns"]
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        dur = s["end_ns"] - s["start_ns"]
        out.append((s["kind"], s["name"], dur / 1e9, (dur - covered) / 1e9))
    return out


def run(args):
    root = os.getcwd()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    jars = spark_jars()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, harness = build(root, build_dir, jars)
    t_start = time.time()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        data, warm, probe, info = make_inputs(args.workload, args.seed, run_dir, cores)
        cmd = ["java"] + JVM_OPTS + [
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", os.pathsep.join([harness, classes, os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", args.workload, "--data", data, "--warm", warm,
            "--probe", probe, "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores), "--seed", str(args.seed)]
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail("run exceeded its time limit", 3)
        if p.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
            tail = open(log).read()[-3000:]
            fail(f"JVM exited with {p.returncode}:\n{tail}", 3)
        res = json.load(open(os.path.join(work, "result.json")))
        return report(args, res, info, data, work, os.path.join(build_dir, "records"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def declared_metrics():
    """{kind: {name: unit}} for the end-to-end and per-layer metrics
    BENCHMARK.json declares."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def report(args, res, info, data, work, rec_dir):
    declared = declared_metrics()
    if res["workload"] == "etl_pipeline":
        bad = check_etl(res, data)
        wrong = {n: "; ".join(bad) for n in res["passes"][0]["ops"]} if bad else {}
    else:
        wrong = {n: why for n, why in check_queries(res, data, work).items() if why}
    m, per_op, attempted, failed = metrics(res, wrong)
    print(f"workload {res['workload']}  seed {args.seed}  cores {res['cores']}  "
          f"passes {len(res['passes'])}  inputs {json.dumps(info)}")
    print("phases " + " ".join(f"{k} {v:.1f}s" for k, v in res["phases"].items()))
    print(f"sentinel_mt_ms pre {res['sentinel_mt_pre_ms']:.1f} post {res['sentinel_mt_post_ms']:.1f} "
          f"(host annotation, never used to rescale)")
    for n, why in wrong.items():
        print(f"WRONG {n}: {why}")
    extra = [("failed_frac", failed / attempted, "ratio")]
    if res["workload"] == "etl_pipeline" and not wrong:
        rows = info["rows"]
        extra += [
            ("etl_rows_per_s", rows / m["wall_s"], "rows/s"),
            ("convert_rows_per_s", rows / per_op["convert"], "rows/s"),
            ("merge_rows_per_s", rows / per_op["merge"], "rows/s"),
            ("heatmap_rows_per_s", rows / per_op["heatmap"], "rows/s"),
            ("stored_bytes_per_row", res["stored_bytes"] / res["merged_rows"], "bytes")]
    units = declared["end_to_end"]
    for k, v in m.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    for k, v, u in extra:
        print(f"metric {k} {v:.6g} {u}")
    for n, v in per_op.items():
        print(f"op {n} {v:.4f} s (median of {len(res['passes'])})")
    print("pass walls " + " ".join(f"{p['wall_s']:.3f}" for p in res["passes"]))
    out_metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    record = {"workload": res["workload"], "seed": args.seed, "trace": args.trace,
              "inputs": info, "metrics": {k: v for k, v in m.items()},
              "extra": {k: v for k, v, _ in extra}, "ops": per_op,
              "sentinel_mt_ms": [res["sentinel_mt_pre_ms"], res["sentinel_mt_post_ms"]],
              "correct": not wrong, "attempted": attempted, "failed": failed,
              "wrong": wrong, "plans": res.get("plans")}
    if args.trace:
        layers = res["layers"]
        spans = [json.loads(line) for line in open(os.path.join(work, "spans.jsonl"))]
        kids = {}
        for sp in spans:
            kids.setdefault(sp["parent"], []).append(sp)
        for sp in spans:
            if sp["kind"] == "op" and sp["parent"] and res["workload"] != "etl_pipeline":
                jobs = sum(c["kind"] == "job" for c in kids.get(sp["id"], []))
                print(f"layer q.{sp['name']}.jobs {jobs} count")
        tp = res["traced_passes"]
        prefix = "step" if res["workload"] == "etl_pipeline" else "q"
        for q in per_op:
            print(f"layer {prefix}.{q}.s {median([p['ops'][q] for p in tp]):.4f} s (traced)")
        units = declared["per_layer"]
        for k, v in layers.items():
            print(f"layer {k} {v:.6g} {units[k]}")
        for kind, name, dur, own in self_times(spans):
            if kind != "job":
                print(f"span {kind} {name} {dur:.4f} s, self {own:.4f} s outside Spark jobs")
        print(f"tracing overhead {layers['trace.overhead_s']:.4f} s per pass "
              f"(traced minus untraced wall_s)")
        os.makedirs(rec_dir, exist_ok=True)
        span_file = os.path.join(rec_dir, f"{res['workload']}-{args.seed}-spans.jsonl")
        shutil.copy(os.path.join(work, "spans.jsonl"), span_file)
        print(f"spans: {os.path.relpath(span_file)}")
        out_metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
        record["layers"] = layers
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{res['workload']}-{args.seed}-t{args.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0 if not wrong else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import selftest
        sys.exit(selftest.main(args))
    if not args.workload:
        ap.error("--workload is required")
    sys.exit(run(args))


if __name__ == "__main__":
    main()
