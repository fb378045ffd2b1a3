"""Seeded inputs for the benchmark.

`write_sf01(dest, seed)` writes a corpus shaped like the sf0.1 test corpus
(same ten tables, column names, parquet types and value distributions) so
the benchmark never reads data from outside its checkout.

`write_points(path, n, seed)` writes the spatial workload's point set:
hotspot clusters plus a uniform background.

`window_round(seed, round_label)` gives one round's seeded query windows.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(dest, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dest, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base, offsets):
    return (np.datetime64(base, "us") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def write_sf01(dest, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(dest, exist_ok=True)
    n = SF01_ROWS

    _write(dest, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dest, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(dest, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]})
    _write(dest, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"], dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})

    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n["part"], dtype=np.int64)
    _write(dest, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, len(pk))], " "),
                              noun[rng.integers(0, 8, len(pk))]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": types[rng.integers(0, 6, len(pk))],
        "p_size": rng.integers(1, 51, len(pk), dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})

    no = n["orders"]
    odate_off = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(dest, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days("1995-01-01", odate_off),
        "o_orderpriority": prios[rng.integers(0, 5, no)]})

    nl = n["lineitem"]
    lok = rng.integers(0, no, nl, dtype=np.int64)
    _write(dest, "lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n["part"], nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days("1995-01-01", odate_off[lok] + rng.integers(1, 96, nl))})

    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne)) + start
    _write(dest, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, 1500, ne, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    # documents: random word sequences; 5% are a copy of another doc + " dup"
    nd = n["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(nd)]
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    langs = np.array(["en", "zh", "de", "fr", "es"])
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    doc_ids = np.arange(nd, dtype=np.int64)
    _write(dest, "documents", {
        "doc_id": doc_ids,
        "text": texts,
        "lang": langs[rng.choice(len(langs), nd, p=lang_p)],
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: 64-d unit vectors with a weak per-label direction
    nv, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, nv, dtype=np.int32)
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v = rng.normal(size=(nv, dim)) + 0.57 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(dest, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels})


def hotspots(seed, k=12):
    rng = np.random.default_rng([seed, 1])
    return np.column_stack([rng.uniform(-150, 150, k), rng.uniform(-60, 60, k)])


def write_points(path, n, seed):
    """~80% of points in Gaussian clusters around seeded hotspots, the rest
    uniform over the globe. Columns: id, lon, lat."""
    rng = np.random.default_rng([seed, 2])
    hs = hotspots(seed)
    n_bg = n // 5
    n_cl = n - n_bg
    which = rng.integers(0, len(hs), n_cl)
    spread = rng.uniform(0.5, 4.0, len(hs))[which]
    cl = hs[which] + rng.normal(size=(n_cl, 2)) * spread[:, None]
    bg = np.column_stack([rng.uniform(-180, 180, n_bg), rng.uniform(-90, 90, n_bg)])
    pts = np.vstack([cl, bg])
    lon = np.clip(pts[:, 0], -179.999, 179.999)
    lat = np.clip(pts[:, 1], -89.999, 89.999)
    pq.write_table(pa.table({"id": np.arange(n, dtype=np.int64),
                             "lon": np.round(lon, 6), "lat": np.round(lat, 6)}), path)


def window_round(seed, round_label):
    """One round's seeded windows (xmin, ymin, xmax, ymax): 0.5 and 5 degree
    half-width centred near a hotspot, 30 degree half-width anywhere. The
    mix is the same in every round and seed, so rounds and runs differ in
    the positions and the order only."""
    rng = np.random.default_rng([seed, 3, zlib.crc32(round_label.encode())])
    hs = hotspots(seed)
    out = []
    for half, on_hotspot in ((0.5, True), (5.0, True), (30.0, False)):
        if on_hotspot:
            cx, cy = hs[rng.integers(0, len(hs))] + rng.normal(size=2)
        else:
            cx, cy = rng.uniform(-180, 180), rng.uniform(-90, 90)
        out.append((max(-180.0, cx - half), max(-90.0, cy - half),
                    min(180.0, cx + half), min(90.0, cy + half)))
    order = rng.permutation(len(out))
    return [tuple(round(float(c), 6) for c in out[i]) for i in order]
