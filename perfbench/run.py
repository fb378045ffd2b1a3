#!/usr/bin/env python3
"""graft's benchmark of record. See perfbench/README.md.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {sf01_mix,spatial_window} \
      --seed N --seconds S --trace {0,1}

Builds graft and the harness (perfbench/build.py), makes the inputs
(perfbench/corpus.py), runs one fresh JVM: set-up, an untimed warm-up
round of the workload's ops, then timed rounds for S seconds, checks every
op's output, and prints one JSON object as the last line of standard
output. With --trace 0 it reports the end-to-end metrics (medians over the
timed rounds); with --trace 1 the JVM runs one more round with a tracer
attached, and the run reports the per-layer metrics of that round.
"""
import argparse
import fcntl
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import corpus  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, "localdata", "perfbench")
CORPUS_SEED = 42
HEAP = "4g"
SETUPS = 3
RUN_LIMIT_S = 170  # the whole invocation, build and corpus excluded
# Rounds per run: one untimed warm-up round, so that codegen, first-call
# layouts and most of the JIT settle, then the timed ones (--seconds caps
# them); sized so a run takes under a minute on 4 CPUs (README.md)
ROUNDS = {"sf01_mix": 2, "spatial_window": 3}

# sf01_mix: one or two light queries per family of SparkEntry.queries (each
# under 0.8 s late in a warm sf0.1 sweep on 4 CPUs), two of which write;
# sized so a warm-up round and several timed rounds fit a run (README.md).
SF01_QUERIES = [
    "ann_ivf_layout", "ann_pca_cov",
    "dd_exact",
    "tx_nfc", "tx_shard",
    "sp_contains", "sp_hull_aggr",
    "ev_heavy", "mm_frames",
    "q_range_join", "src_csv",
]
SPATIAL_POINTS = 100_000

TRACE_KEYS = [
    "queries.build_jobs", "plans.analysis_s", "plans.optimizer_s", "plans.planning_s",
    "plans.extent_pushed", "exec.jobs", "exec.stages", "exec.tasks", "exec.stage_wall_s",
    "exec.driver_gap_s", "tasks.cpu_s", "tasks.run_s", "tasks.gc_s", "tasks.peak_exec_mem_mb",
    "ops.join_rows_out", "ops.result_rows", "sources.files_read", "sources.partitions_read",
    "sources.bytes_read", "sources.rows_scanned", "sources.files_written",
    "sources.bytes_written", "shuffle.bytes_written", "shuffle.records_written",
    "shuffle.fetch_wait_s", "shuffle.spill_bytes",
]
MAX_KEYS = {"tasks.peak_exec_mem_mb"}  # per op a max, per workload the max over ops


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    """Task slots: half the CPUs, so the driver, JIT and GC threads, and
    a neighbour's steal of a CPU, do not stall a stage's last task."""
    return str(max(1, len(os.sched_getaffinity(0)) // 2))


def java_cmd(classes, main, props):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    return cmd + ["-cp", classes + os.pathsep + build.classpath(), main]


def run_proc(cmd, logfile, timeout, env=None):
    """Run a child in its own process group; kill the group on timeout."""
    with open(logfile, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, start_new_session=True,
                             cwd=ROOT, env=env)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


class Lock:
    def __enter__(self):
        os.makedirs(WORK, exist_ok=True)
        self.f = open(os.path.join(WORK, ".lock"), "w")
        fcntl.flock(self.f, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        fcntl.flock(self.f, fcntl.LOCK_UN)
        self.f.close()


def ensure_corpus():
    """The fixed sf0.1 corpus (sf01_mix; every warm-up reads it). Made once
    per checkout; never timed."""
    sf01 = os.path.join(WORK, "data", "sf0.1")
    if not os.path.exists(os.path.join(sf01, "_DONE")):
        log("generating the sf0.1 corpus")
        shutil.rmtree(sf01, ignore_errors=True)
        corpus.write_sf01(sf01, CORPUS_SEED)
        open(os.path.join(sf01, "_DONE"), "w").close()
    return sf01


def fill_oracle_cache(classes, sf01):
    """DuckDB ground truth of the query list, computed once per build so
    no timed run pays for it."""
    cache = os.path.join(WORK, "oracle")
    done = os.path.join(cache, "_DONE_" + os.path.basename(os.path.dirname(classes)))
    if os.path.exists(done):
        return
    os.makedirs(cache, exist_ok=True)
    dump = os.path.join(cache, "oracle_sql.json")
    if run_proc(java_cmd(classes, "graftbench.Oracles", {}) + [dump],
                os.path.join(cache, "oracles.log"), 300) != 0:
        raise RuntimeError("could not dump SparkEntry.oracleSql")
    with open(dump) as f:
        oracle = json.load(f)
    log("computing the DuckDB ground truth of the query list")
    con = check.connect(sf01, os.path.join(cache, "duckdb_tmp"))
    for n in SF01_QUERIES:
        if n in oracle:
            check.expected(con, oracle[n], cache, sf01)
    con.close()
    open(done, "w").close()


def prepare():
    with Lock():
        classes = build.build()
        sf01 = ensure_corpus()
        fill_oracle_cache(classes, sf01)
    return classes, sf01


def make_plan(workload, seed, rundir):
    """Plan lines `<round>\t<op>`: the warm-up round `w1`, timed rounds
    1.. and the traced round `t`. Every round runs the same op mix; the
    seed sets its order, and for spatial_window the points and each
    round's windows. A spatial round ingests into its own layout."""
    labels = ["w1"] + [str(i) for i in range(1, ROUNDS[workload] + 1)] + ["t"]
    lines = []
    if workload == "spatial_window":
        pts = os.path.join(rundir, "points.parquet")
        corpus.write_points(pts, SPATIAL_POINTS, seed)
        for r in labels:
            layout = os.path.join(rundir, f"layout_{r}")
            lines.append(f"{r}\tingest\t{pts}\t{layout}")
            lines += [f"{r}\twindow\t" + "\t".join(repr(c) for c in w) + f"\t{layout}"
                      for w in corpus.window_round(seed, r)]
        return lines
    for r in labels:
        names = list(SF01_QUERIES)
        random.Random(f"{seed}/{r}").shuffle(names)
        lines += [f"{r}\tquery\t{n}" for n in names]
    return lines


def run_pass(classes, data, plan_file, rundir, traced, seconds, deadline):
    out = os.path.join(rundir, "pass")
    tmp = os.path.join(rundir, "pass_tmp")
    os.makedirs(tmp)
    cmd = java_cmd(classes, "graftbench.Main",
                   {"java.io.tmpdir": tmp, "spark.local.dir": tmp}) + [
        "--data", data, "--plan", plan_file, "--out", out, "--trace", "1" if traced else "0",
        "--seconds", str(seconds), "--setups", str(SETUPS), "--cpus", cpus()]
    logfile = os.path.join(rundir, "pass.log")
    rc = run_proc(cmd, logfile, max(1.0, deadline - time.monotonic()))
    shutil.rmtree(tmp, ignore_errors=True)
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(logfile, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness JVM exited with {rc}")
    with open(logfile, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(res) as f:
        return json.load(f), out


def pct(values, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def timed_rounds(result):
    """{round label: its ops} of the timed rounds, in order."""
    out = {}
    for o in result["ops"]:
        if o["round"][0].isdigit():
            out.setdefault(o["round"], []).append(o)
    return out


def latencies(ops):
    """Per-op latency samples: queries, or window reads (ingest is not one)."""
    return [o["wall_s"] for o in ops if o["kind"] in ("query", "window")]


def end_to_end(result):
    rounds = timed_rounds(result).values()
    return {
        "setup_s": statistics.median(s["total_s"] for s in result["setup"]),
        "sweep_s": statistics.median(sum(o["wall_s"] for o in r) for r in rounds),
        "op_p50_s": statistics.median(latencies(o for r in rounds for o in r)),
        "live_heap_peak_mb": result["heap_peak_mb"],
    }


def report(workload, result, failed, attempted):
    """Every end-to-end number of the workload under its own name, for
    people (stderr). The JSON line carries the subset named in
    BENCHMARK.json, which every workload reports."""
    e = end_to_end(result)
    rounds = timed_rounds(result)
    timed = [o for r in rounds.values() for o in r]
    lat = latencies(timed)
    kind = "window" if workload == "spatial_window" else "query"
    rows = [("setup_s", e["setup_s"], "s"), ("sweep_s", e["sweep_s"], "s"),
            (f"{kind}_p50_s", e["op_p50_s"], "s"),
            (f"{kind}_p90_s", pct(lat, 0.9), "s")]
    ing = [o for o in timed if o["kind"] == "ingest"]
    if ing:
        rows += [("ingest_points_per_s",
                  statistics.median(SPATIAL_POINTS / o["wall_s"] for o in ing), "points/s"),
                 ("stored_bytes_per_point", ing[0]["stored_bytes"] / SPATIAL_POINTS, "B")]
    rows += [("fail_ratio", failed / max(1, attempted), "ratio"),
             ("live_heap_peak_mb", e["live_heap_peak_mb"], "MB")]
    warm = sum(o["wall_s"] for o in result["ops"] if o["round"] == "w1")
    log(f"{workload} seed={result['seed']} cpus={result['cpus']} timed rounds={len(rounds)} "
        f"latency samples={len(lat)} untimed warm-up round={warm:.3f} s")
    log("  round sweeps " + " ".join(f"{sum(o['wall_s'] for o in r):.3f}"
                                      for r in rounds.values()) + " s")
    per_name = {}
    for o in timed:
        per_name.setdefault(o["name"], []).append(o["wall_s"])
    log("  op medians " + " ".join(f"{n}={statistics.median(v):.3f}"
                                   for n, v in sorted(per_name.items())))
    for name, v, unit in rows:
        log(f"  {name:<24} {v:>14.4f} {unit}")


def per_layer(result, spans):
    """Per-layer metrics of the traced round."""
    ops = [o for o in result["ops"] if o["round"] == "t"]
    m = {}
    for k in TRACE_KEYS:
        vals = [o["trace"][k] for o in ops]
        m[k] = max(vals, default=0) if k in MAX_KEYS else sum(vals)
    for k in ("build_s", "enable_s", "warmup_s"):
        m[f"session.{k}"] = statistics.median(s[k] for s in result["setup"])
    m["session.first_round_s"] = sum(o["wall_s"] for o in result["ops"] if o["round"] == "w1")
    m["queries.build_s"] = sum(o["build_s"] for o in ops)
    m["ops.result_per_join_row"] = (m["ops.result_rows"] / m["ops.join_rows_out"]
                                    if m["ops.join_rows_out"] else 0.0)
    m["sources.rows_per_result"] = (m["sources.rows_scanned"] / m["ops.result_rows"]
                                    if m["ops.result_rows"] else 0.0)
    selfs = self_times(spans)
    for layer in ("queries", "plans", "exec"):
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    m["trace.sweep_s"] = sum(o["wall_s"] for o in ops)
    m["trace.overhead_s"] = m["trace.sweep_s"] - end_to_end(result)["sweep_s"]
    return m


def self_times(span_file):
    """Self time per layer: each span's duration minus the part of it its
    children cover, summed by layer (the span name up to the first '.')."""
    with open(span_file) as f:
        spans = [json.loads(line) for line in f]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                           for c in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                covered += (cur[1] - cur[0]) if cur else 0.0
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        covered += (cur[1] - cur[0]) if cur else 0.0
        layer = s["name"].split(".")[0].split(":")[0]
        out[layer] = out.get(layer, 0.0) + (s["end_ms"] - s["start_ms"] - covered) / 1000.0
    return out


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "B"
    if name in ("ops.result_per_join_row", "sources.rows_per_result"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["sf01_mix", "spatial_window"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classes, data = prepare()
    deadline = time.monotonic() + RUN_LIMIT_S
    rundir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        plan = make_plan(args.workload, args.seed, rundir)
        plan_file = os.path.join(rundir, "plan.tsv")
        with open(plan_file, "w") as f:
            f.write("\n".join(plan) + "\n")
        res, out = run_pass(classes, data, plan_file, rundir, bool(args.trace), args.seconds,
                            deadline)
        res["seed"] = args.seed
        attempted, fails = check.check_run(res, out, plan, data, os.path.join(WORK, "oracle"),
                                           os.path.join(rundir, "duckdb_tmp"))
        for msg in fails:
            log(f"FAIL {msg}")
        failed = len(fails)
        report(args.workload, res, failed, attempted)
        if args.trace:
            keep = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            shutil.copytree(os.path.join(out, "trace"), keep)
            with open(os.path.join(keep, "result.json"), "w") as f:
                json.dump(res, f)
            metrics = per_layer(res, os.path.join(keep, "spans.jsonl"))
            log(f"traced round: spans, plans and stage tables in {os.path.relpath(keep, ROOT)}")
            for k, v in metrics.items():
                log(f"  {k:<28} {v:>16.4f} {unit_of(k)}")
        else:
            metrics = end_to_end(res)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # no result line on any failure
        log(f"error: {e}")
        sys.exit(2)
