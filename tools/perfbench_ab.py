#!/usr/bin/env python3
"""Same-window A/B of two checkouts with the steady benchmark (perfbench).

Usage:

    python3 tools/perfbench_ab.py <parent-checkout> <change-checkout> \\
        --workload lifecycle --pairs 6 --seed0 11 [--seconds 10] [--trace 0|1] \\
        [--compare-output <call>] [--json ab.json]

Pair i uses seed `seed0 + i` on both sides and alternates which side runs
first (the parent on even pairs, the change on odd ones), so a drift of the
host's load falls on both sides alike. Each run is `python3 perfbench/run.py`
inside its own checkout, so each side is built from, and measured by, its
own sources; nothing under `perfbench/` is changed. The first run in a
checkout builds it (sbt, offline) before its JVM starts; the build is not
timed.

Make each checkout fresh, with `git worktree add <dir> <commit>` (or
`git clone`), not by copying a directory that carries `target/` trees: a
copied checkout whose `target/` directories came along can lose its compiled
classes when it is built, and then fails every run.

Printed per metric: the parent's and the change's medians, the change's
relative move, the parent's interquartile range (IQR), and in how many pairs
the change was better (the direction comes from the change's BENCHMARK.json;
a tie is no win). Every run that is not correct, and every failed operation,
is listed. With --trace 1 the metrics are perfbench's per-layer ones, and the
per-call process CPU of each call (`<call>.cpu_s`) is added from the run's
trace file.

With --compare-output <call>, each run keeps its scratch directory
(`run.py --keep`) until its pair is done. The call's stored parquet
(`<round dir>/<call>`, as the lifecycle's analyses and every suite query
store it; `track` for genomeTrack, `rgps` for rgpMine) must then be
row-identical, after sorting, in every round of both
sides: DuckDB reads each one and the rows are compared with the parent's first
round. The per-call `<call>.cpu_s` metrics come from the kept manifests, so
no trace is needed, and the directories are deleted after the comparison.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys


def per_call_cpu(calls):
    """`<call>.cpu_s` metrics: each call's median process CPU over the
    calls that succeeded."""
    per_call = {}
    for c in calls:
        if c["ok"]:
            per_call.setdefault(c["name"], []).append(c["cpu_s"])
    return {f"{name}.cpu_s": {"value": statistics.median(xs), "unit": "s"}
            for name, xs in per_call.items()}


def run_once(checkout, workload, seed, seconds, trace, keep=False):
    """One perfbench run in `checkout`; returns (result, failed-op lines,
    the kept run directory or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)] + (["--keep"] if keep else [])
    runs = os.path.join(checkout, ".bench_build", "runs", f"{workload}-seed{seed}-*")
    before = set(glob.glob(runs))
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    failed = [ln for ln in p.stderr.splitlines() if " failed: " in ln]
    kept = sorted(set(glob.glob(runs)) - before, key=os.path.getmtime)
    run_dir = kept[-1] if keep and kept else None
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return {"correct": False, "attempted": 0, "failed": None, "metrics": {},
                "error": f"exit {p.returncode}"}, failed, run_dir
    result = json.loads(lines[-1])
    if trace:
        path = os.path.join(checkout, ".bench_build", "traces", f"{workload}-seed{seed}.json")
        with open(path) as fh:
            result["metrics"].update(per_call_cpu(json.load(fh)["spans"]))
    elif run_dir:
        with open(os.path.join(run_dir, "manifest.json")) as fh:
            rounds = json.load(fh)["rounds"]
        result["metrics"].update(per_call_cpu([c for r in rounds for c in r["calls"]]))
    return result, failed, run_dir


# lifecycle calls whose output directory is not named after the call
OUT_DIRS = {"genomeTrack": "track", "rgpMine": "rgps"}


def stored_rows(run_dir, call):
    """[(round, columns, sorted rows)] of the call's stored parquet, one per
    round of the run."""
    import duckdb
    with open(os.path.join(run_dir, "manifest.json")) as fh:
        rounds = json.load(fh)["rounds"]
    out = []
    con = duckdb.connect()
    try:
        for r in rounds:
            path = os.path.join(r["dir"], OUT_DIRS.get(call, call))
            rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet') ORDER BY ALL")
            out.append((r["round"], rel.columns, rel.fetchall()))
    finally:
        con.close()
    return out


def compare_output(call, dirs):
    """Problems found comparing the call's output of the pair's two kept
    runs (`dirs`: side -> run directory); empty when every round of both
    sides is row-identical to the parent's first round."""
    if None in dirs.values():
        return ["a run kept no directory"]
    try:
        sides = {side: stored_rows(d, call) for side, d in dirs.items()}
    except Exception as e:  # a missing or unreadable output
        return [f"{type(e).__name__}: {e}"]
    if not sides["parent"]:
        return ["the parent ran no round"]
    _, cols, rows = sides["parent"][0]
    problems = []
    for side, rounds in sides.items():
        for r, c, got in rounds:
            if c != cols or got != rows:
                problems.append(f"{side} round {r}: {len(got)} rows differ from the "
                                f"parent's first round ({len(rows)} rows)")
    return problems


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def directions(checkout):
    """Metric name -> "lower" or "higher", from the checkout's BENCHMARK.json."""
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
            b = json.load(fh)
    except OSError:
        return {}
    return {m["name"]: m.get("better", "lower")
            for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True, choices=["lifecycle", "query_suite"])
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--compare-output", metavar="CALL",
                    help="check that this call's stored output is row-identical across "
                         "every pair, and report per-call cpu_s")
    ap.add_argument("--json", help="write every run's result to this file")
    a = ap.parse_args(argv)
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    runs = []  # (pair, side, seed, result, failed lines)
    mismatched = []  # (pair, seed, problem)
    keep = a.compare_output is not None
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        dirs = {}
        try:
            for side in order:
                result, failed, dirs[side] = run_once(sides[side], a.workload, seed,
                                                      a.seconds, a.trace, keep)
                runs.append((i, side, seed, result, failed))
                print(f"pair {i} seed {seed} {side}: correct={result['correct']} "
                      f"failed={result['failed']}/{result['attempted']}", file=sys.stderr,
                      flush=True)
            if keep:
                problems = compare_output(a.compare_output, dirs)
                mismatched += [(i, seed, p) for p in problems]
                print(f"pair {i} seed {seed} {a.compare_output}: "
                      f"{'; '.join(problems) or 'row-identical'}", file=sys.stderr, flush=True)
        finally:
            for d in dirs.values():
                if d:
                    shutil.rmtree(d, ignore_errors=True)

    better = directions(sides["change"])
    by = {(i, side): r for i, side, _, r, _ in runs}
    names = sorted({m for _, _, _, r, _ in runs for m in r["metrics"]})
    print(f"{a.workload}: {a.pairs} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}")
    print(f"{'metric':<34}{'parent':>11}{'change':>11}{'move':>9}{'parent IQR':>12}"
          f"{'wins':>8}")
    for m in names:
        pairs = [(by[(i, "parent")]["metrics"].get(m, {}).get("value"),
                  by[(i, "change")]["metrics"].get(m, {}).get("value"))
                 for i in range(a.pairs)]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        higher = better.get(m, "lower") == "higher"
        wins = sum(1 for p, c in pairs if (c > p if higher else c < p))
        move = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
        print(f"{m:<34}{pm:>11.3f}{cm:>11.3f}{move:>9}{iqr(ps):>12.3f}"
              f"{wins:>5}/{len(pairs)}")
    bad = [(i, side, seed, r) for i, side, seed, r, _ in runs if not r["correct"]]
    print(f"incorrect runs: {len(bad)}")
    for i, side, seed, r in bad:
        print(f"  pair {i} seed {seed} {side}: {r.get('error', 'a check failed')}")
    for i, side, seed, _, failed in runs:
        for ln in failed:
            print(f"  pair {i} seed {seed} {side}: {ln.strip()}")
    if keep:
        print(f"{a.compare_output} output differs in {len({i for i, _, _ in mismatched})} "
              f"of {a.pairs} pairs")
        for i, seed, problem in mismatched:
            print(f"  pair {i} seed {seed}: {problem}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump([{"pair": i, "side": side, "seed": seed, "result": r}
                       for i, side, seed, r, _ in runs], fh, indent=1)


if __name__ == "__main__":
    main()
