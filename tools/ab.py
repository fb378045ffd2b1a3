#!/usr/bin/env python3
"""Alternating A/B of two git revisions on one perfbench workload.

Usage (from anywhere inside the repository):
  python3 tools/ab.py BASE CHANGE --workload {sf01_mix,spatial_window} \
      --pairs N [--seed0 S] [--claim METRIC]

Checks BASE and CHANGE out into their own `git worktree` under a temp dir
(honours TMPDIR), then runs `python3 perfbench/run.py --seconds 30 --trace 0`
(the benchmark's fixed run length) in N pairs. Pair i uses seed S+i on both
sides, and the side that runs first alternates. Each checkout builds and
makes its inputs on its first run; the metrics exclude that.

For every end-to-end metric of BASE's BENCHMARK.json it prints each side's
median and quartiles, BASE's relative spread (q3 - q1) / median, the pairs
CHANGE won (ties count for neither side) and the first verdict that holds:
  gain:         at least 10 pairs, CHANGE won at least 9/10 of them, and the
                medians differ, in CHANGE's favour, by more than BASE's
                quartile spread (q3 - q1);
  unresolved:   BASE's relative spread exceeds the metric's bound and the two
                sides' runs overlap (not every run of one side beats every
                run of the other), so the runs cannot tell;
  WORSE:        CHANGE's median is worse than BASE's by more than the
                metric's bound (relative);
  within bound: none of the above.
--claim METRIC needs --pairs of at least 10 and must name an end-to-end
metric of BASE's BENCHMARK.json; the exit status is then 0 only when METRIC
shows a gain and no run failed its output check. perfbench/ is only run,
never changed.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

MIN_PAIRS = 10
RUN_SECONDS = 30


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def git(*args, cwd):
    return subprocess.run(["git", *args], cwd=cwd, check=True, capture_output=True,
                          text=True).stdout.strip()


def run_once(tree, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(RUN_SECONDS), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(f"run failed in {tree} (exit {p.returncode}):\n{p.stderr[-2000:]}")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def summarize(metrics, pairs):
    """One row per metric: both sides' medians and quartiles, wins and the
    verdict, over the pairs where both runs reported."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        beats = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
        both = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
                for b, c in pairs if b and c]
        if not both:
            continue
        base = [b for b, _ in both]
        chg = [c for _, c in both]
        n = len(both)
        wins = sum(1 for b, c in both if beats(c, b))
        bmed, cmed = statistics.median(base), statistics.median(chg)
        bq1, bq3 = quartiles(base)
        spread = (bq3 - bq1) / bmed if bmed else 0.0
        gain_by = (bmed - cmed) if lower else (cmed - bmed)
        worse_by = -gain_by / bmed if bmed else 0.0
        separated = (all(beats(c, b) for b in base for c in chg)
                     or all(beats(b, c) for b in base for c in chg))
        if n >= MIN_PAIRS and wins >= math.ceil(0.9 * n) and gain_by > bq3 - bq1:
            verdict = "gain"
        elif spread > m["bound"] and not separated:
            verdict = "unresolved"
        elif worse_by > m["bound"]:
            verdict = "WORSE"
        else:
            verdict = "within bound"
        rows.append({
            "metric": name, "unit": m["unit"], "n": n,
            "base": {"median": bmed, "q1": bq1, "q3": bq3},
            "change": dict(zip(("median", "q1", "q3"), (cmed, *quartiles(chg)))),
            "spread": spread, "wins": wins, "worse_by": worse_by, "bound": m["bound"],
            "verdict": verdict,
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True, choices=["sf01_mix", "spatial_window"])
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--claim", help="metric whose gain sets the exit status")
    args = ap.parse_args()

    repo = git("rev-parse", "--show-toplevel", cwd=os.path.dirname(os.path.abspath(__file__)))
    revs = {side: git("rev-parse", "--verify", rev + "^{commit}", cwd=repo)
            for side, rev in (("base", args.base), ("change", args.change))}
    metrics = json.loads(git("show", f"{revs['base']}:BENCHMARK.json", cwd=repo))["end_to_end"]
    if args.claim:
        names = [m["name"] for m in metrics]
        if args.claim not in names:
            ap.error(f"--claim {args.claim}: not an end-to-end metric ({', '.join(names)})")
        if args.pairs < MIN_PAIRS:
            ap.error(f"--claim needs --pairs of at least {MIN_PAIRS}")
    tmp = tempfile.mkdtemp(prefix="graft-ab-")
    trees = {side: os.path.join(tmp, side) for side in revs}
    try:
        for side, rev in revs.items():
            git("worktree", "add", "--detach", trees[side], rev, cwd=repo)
            log(f"{side} = {rev[:12]} in {trees[side]}")

        pairs, failed = [], []
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            got = {}
            for side in order:
                res = run_once(trees[side], args.workload, seed)
                if res is None or not res["correct"] or res["failed"]:
                    failed.append((side, seed))
                got[side] = res
            pairs.append((got["base"], got["change"]))
            brief = "  ".join(
                f"{s}:{got[s]['metrics'][args.claim]['value']:.3f}" if got[s] else f"{s}:-"
                for s in order) if args.claim else ""
            log(f"pair {i + 1}/{args.pairs} seed {seed} {'->'.join(order)}  {brief}")

        rows = summarize(metrics, pairs)
        print(f"{args.workload}: {args.pairs} pairs, seeds {args.seed0}..{args.seed0 + args.pairs - 1}, "
              f"base {revs['base'][:12]}, change {revs['change'][:12]}")
        print(f"{'metric':<20} {'base median [q1, q3] spread':>36} {'change median [q1, q3]':>28} "
              f"{'wins':>7} {'better':>8}  verdict")
        for r in rows:
            b, c = r["base"], r["change"]
            print(f"{r['metric']:<20} "
                  f"{b['median']:>10.3f} [{b['q1']:.3f}, {b['q3']:.3f}] {r['spread']:>6.1%} "
                  f"{c['median']:>10.3f} [{c['q1']:.3f}, {c['q3']:.3f}] "
                  f"{r['wins']:>3}/{r['n']:<3} {-r['worse_by']:>+8.1%}  {r['verdict']} "
                  f"(bound {r['bound']:.0%}, {r['unit']})")
        if any(r["n"] < MIN_PAIRS for r in rows):
            print(f"fewer than {MIN_PAIRS} complete pairs: no gain can be shown")
        for side, seed in failed:
            print(f"FAILED: {side} seed {seed} (no result, or an output check failed)")
        if args.claim:
            claimed = [r for r in rows if r["metric"] == args.claim]
            ok = bool(claimed) and claimed[0]["verdict"] == "gain" and not failed
            print(f"claim {args.claim}: {'holds' if ok else 'NOT shown'}")
            sys.exit(0 if ok else 1)
    finally:
        for tree in trees.values():
            if os.path.isdir(tree):
                subprocess.run(["git", "worktree", "remove", "--force", tree], cwd=repo,
                               capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=repo, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
