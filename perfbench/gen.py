"""Seeded, single-process input generator for the benchmark.

Two families of inputs, both a pure function of (seed, size):

* ``gen_tables`` — the TPC-H-like star schema plus ``documents`` that the
  query workloads read, in the column types and value ranges of the
  project's oracle test data (FIXTURES.md section A), one parquet file per
  table.
* ``gen_footprints`` — building-footprint polygons for ``etl_pipeline``:
  a skewed East-Asia-like world (lon 90-150), split over several source
  files, one stored in EPSG:3857 and one with lat/lon swapped, with about
  1% of rows 3D, broken or null.

Run ``python3 perfbench/gen.py --selftest`` to check that one seed always
yields byte-identical sources (equal checksums) and another seed does not.
"""
import hashlib
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _write(table, path):
    # one row group, like the pandas-written oracle tables
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(out_dir, seed, sf):
    """Write the query tables at scale factor ``sf`` (lineitem = 6M * sf
    rows); returns {table: rows}. Dimension tables never shrink below their
    sf0.01 sizes: the queries synthesize coordinates from key moduli (part
    key % 360, supplier key % 180), and the oracles assume those domains
    are populated."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(1500, int(150000 * sf))
    n_supp = max(100, int(10000 * sf))
    n_part = max(2000, int(200000 * sf))
    n_ord = max(500, int(1500000 * sf))
    # 1-7 lines per order (4 on average), numbered from 1: (l_orderkey,
    # l_linenumber) is unique, as lineitem's key is in TPC-H
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    n_doc = max(100, int(50000 * sf))
    rows = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = np.array("small red blue hot cold new old large".split())
    noun = np.array("ring widget bolt gear rod plate anvil gizmo".split())
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
    pk = np.arange(n_part)
    put("part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    li_order = np.repeat(np.arange(n_ord), lines)
    li_number = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    perm = rng.permutation(n_li)
    put("lineitem", {
        "l_orderkey": pa.array(li_order[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(li_number[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.02:      # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        elif i > 10 and r < 0.022:   # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return rows


# --- building footprints ----------------------------------------------------

R_MERC = 6378137.0


def _to_3857(lon, lat):
    x = np.radians(lon) * R_MERC
    y = np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)) * R_MERC
    return x, y


def _poly_wkb(ring, z=None):
    """Little-endian WKB POLYGON (ISO 1003 with z) of one closed ring."""
    if z is None:
        head = struct.pack("<BIII", 1, 3, 1, len(ring))
        return head + b"".join(struct.pack("<dd", x, y) for x, y in ring)
    head = struct.pack("<BIII", 1, 1003, 1, len(ring))
    return head + b"".join(struct.pack("<ddd", x, y, z) for x, y in ring)


BROKEN = [
    struct.pack("<BII", 1, 15, 0),   # PolyhedralSurface: not a core-7 shape
    struct.pack("<BII", 1, 3, 0),    # POLYGON EMPTY: no centroid
]


def gen_footprints(out_dir, seed, n_rows, n_sources=4):
    """Write ``n_sources`` parquet sources of WKB building footprints under
    ``out_dir``. Returns a manifest: per-source path, EPSG and counts, and
    the number of rows a correct normalization keeps (``valid_rows``)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    # skewed world: Zipf-weighted city clusters plus a uniform 10% haze
    n_city = 40
    city_lon = rng.uniform(100.0, 145.0, n_city)
    city_lat = rng.uniform(0.0, 50.0, n_city)
    city_sd = rng.uniform(0.02, 0.3, n_city)
    city_w = 1.0 / np.arange(1, n_city + 1)
    city_w /= city_w.sum()
    weights = np.array([1.2, 1.0, 1.0, 0.8, 0.6, 0.4, 0.3, 0.2][:n_sources], float)
    sizes = np.floor(weights / weights.sum() * n_rows).astype(int)
    sizes[0] += n_rows - sizes.sum()
    manifest = {"seed": seed, "rows": int(n_rows), "sources": [], "valid_rows": 0,
                "crs_mix": {}, "source_bytes": 0}
    for s, n in enumerate(sizes):
        epsg = 3857 if s == 1 else 4326
        swapped = s == 2
        geom_name = "Shape" if s == 3 else "geom"
        city = rng.choice(n_city, n, p=city_w)
        haze = rng.random(n) < 0.1
        lon = np.where(haze, rng.uniform(90.0, 150.0, n),
                       city_lon[city] + rng.normal(0, 1, n) * city_sd[city])
        lat = np.where(haze, rng.uniform(-10.0, 55.0, n),
                       city_lat[city] + rng.normal(0, 1, n) * city_sd[city])
        lon = np.clip(lon, 90.0, 150.0)
        lat = np.clip(lat, -10.0, 55.0)
        half = rng.uniform(0.00005, 0.0003, n)        # ~5-35 m
        aspect = rng.uniform(0.5, 2.0, n)
        kind = rng.random(n)                           # 3D / broken / null mix
        geoms = []
        valid = 0
        for i in range(n):
            if kind[i] < 0.004:
                geoms.append(None)
                continue
            if kind[i] < 0.007:
                geoms.append(BROKEN[i % 2])
                continue
            cx, cy = lon[i], lat[i]
            hx, hy = half[i] * aspect[i], half[i]
            ring = [(cx - hx, cy - hy), (cx + hx, cy - hy), (cx + hx, cy + hy),
                    (cx - hx, cy + hy), (cx - hx, cy - hy)]
            if epsg == 3857:
                xs, ys = _to_3857(np.array([p[0] for p in ring]),
                                  np.array([p[1] for p in ring]))
                ring = list(zip(xs.tolist(), ys.tolist()))
            if swapped:
                ring = [(y, x) for x, y in ring]
            z = float(rng.uniform(2.0, 60.0)) if kind[i] < 0.01 else None
            geoms.append(_poly_wkb(ring, z))
            valid += 1
        path = os.path.join(out_dir, f"src_{s:02d}.parquet")
        _write(pa.table({
            geom_name: pa.array(geoms, pa.binary()),
            "bid": pa.array(np.arange(n) + s * 10_000_000, pa.int64()),
            "height": np.round(rng.uniform(3.0, 80.0, n), 1)}), path)
        size = os.path.getsize(path)
        manifest["sources"].append({"path": path, "epsg": epsg, "swapped": swapped,
                                    "rows": int(n), "valid": valid, "bytes": size})
        manifest["valid_rows"] += valid
        manifest["source_bytes"] += size
        manifest["crs_mix"][str(epsg)] = manifest["crs_mix"].get(str(epsg), 0) + int(n)
    return manifest


def checksum(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def selftest(scratch):
    """Same seed → same source checksum; another seed → another one."""
    sums = []
    for i, seed in enumerate([7, 7, 8]):
        d = os.path.join(scratch, f"gen{i}")
        m = gen_footprints(os.path.join(d, "src"), seed, 2000)
        gen_tables(os.path.join(d, "tables"), seed, 0.0002)
        files = [s["path"] for s in m["sources"]] + [
            os.path.join(d, "tables", f) for f in os.listdir(os.path.join(d, "tables"))]
        sums.append(checksum(files))
    ok = sums[0] == sums[1] and sums[0] != sums[2]
    print(f"gen selftest: same-seed checksums equal={sums[0] == sums[1]}, "
          f"other seed differs={sums[0] != sums[2]}")
    return ok


if __name__ == "__main__":
    if sys.argv[1:] == ["--selftest"]:
        import shutil
        import tempfile
        here = os.path.dirname(os.path.abspath(__file__))
        root = os.path.join(os.path.dirname(here), ".bench_build")
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="genselftest", dir=root)
        try:
            sys.exit(0 if selftest(tmp) else 1)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(__doc__)
    sys.exit(2)
