"""Output checks for one harness pass, run after its JVM has exited.

- query ops: DuckDB runs the entry's oracle SQL over the same corpus and
  the outputs are compared the way tools/check.py compares them (columns
  by name, rows sorted, floats to 6 dp). Entries without an oracle get
  tools/check.py's rows-only check. Oracle results are cached per corpus,
  since the corpus is fixed.
- ingest: the layout holds every generated point exactly once.
- window: the ids returned equal a plain lon/lat range filter over the
  generated points.
"""
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb

import corpus


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda r: tuple(str(x) for x in r))


def connect(data, tmp):
    con = duckdb.connect()
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.sql(f"SET temp_directory = '{tmp}'")
    for t in corpus.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def parquet_glob(d):
    return glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)


def expected(con, sql, cache_dir, data):
    key = hashlib.sha256((os.path.basename(data) + "\0" + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    d = con.sql(sql)
    val = normalize(d.columns, d.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(val, f)
    os.replace(path + ".tmp", path)
    return val


def check_query(con, name, files, oracle, cache_dir, data):
    if name not in oracle:
        n = con.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
        return None if n > 0 else f"{name}: rows-only check, {n} rows"
    if files:
        s = con.sql(f"SELECT * FROM read_parquet({files!r})")
        scols, srows = normalize(s.columns, s.fetchall())
    else:
        scols, srows = None, []
    dcols, drows = expected(con, oracle[name], cache_dir, data)
    if scols is not None and [c.lower() for c in scols] != [c.lower() for c in dcols]:
        return f"{name}: columns spark={scols} duck={dcols}"
    if len(srows) != len(drows):
        return f"{name}: rows spark={len(srows)} duck={len(drows)}"
    if srows != drows:
        bad = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
        return f"{name}: value mismatch, first diffs: {bad}"
    return None


def ids(con, sql):
    return [r[0] for r in con.sql(sql).fetchall()]


def check_run(result, out, plan, data, cache_dir, tmp):
    """Checks every op the pass ran, in every round. Returns (ops
    attempted, list of failure messages)."""
    con = connect(data, tmp)
    oracle_path = os.path.join(out, "oracle_sql.json")
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    attempted, fails = 0, []
    for op in result["ops"]:
        attempted += 1
        if not op["ok"]:
            fails.append(f"{op['id']} {op['name']}: {op['error']}")
            continue
        args = plan[op["line"]].split("\t")[2:]
        files = parquet_glob(os.path.join(out, "ops", op["id"]))
        if op["kind"] == "query":
            err = check_query(con, op["name"], files, oracle, cache_dir, data)
        elif op["kind"] == "ingest":
            pts, layout = args
            want = con.sql(f"SELECT count(*) FROM read_parquet('{pts}')").fetchone()[0]
            got = con.sql(f"SELECT count(*), count(DISTINCT id) FROM read_parquet("
                          f"{parquet_glob(layout)!r})").fetchone()
            err = None if got == (want, want) else f"ingest: layout rows/ids {got}, points {want}"
        else:
            x0, y0, x1, y1 = (float(a) for a in args[:4])
            pts = os.path.join(os.path.dirname(args[4]), "points.parquet")
            want = ids(con, f"SELECT id FROM read_parquet('{pts}') WHERE lon BETWEEN {x0!r} AND "
                            f"{x1!r} AND lat BETWEEN {y0!r} AND {y1!r} ORDER BY id")
            got = ids(con, f"SELECT id FROM read_parquet({files!r}) ORDER BY id") if files else []
            err = None if got == want else (
                f"window {op['id']} {args[:4]}: {len(got)} ids, range filter {len(want)}")
        if err:
            fails.append(f"{op['id']} {err}")
    con.close()
    return attempted, fails
