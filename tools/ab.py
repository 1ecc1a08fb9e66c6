#!/usr/bin/env python3
"""A/B proof of two revisions on the repository benchmark (perfbench).

Usage: python3 tools/ab.py BASE_REV CHANGE_REV [--pairs 4] [--seconds 10]
           [--workloads serve_endpoints dedup_scale] [--seed0 31]
           [--claim serve_endpoints/wall_s] [--trace] [--work DIR]

Run from the repository root. Each revision is exported with `git archive`
into its own tree under the work dir (default `/tmp/graft_ab`), so each has
a fresh `target/` and shares no build state with the other tree or with the
repository: zinc records absolute paths, and a copied `target/` gets its
original's classes deleted when the copy builds. An uncommitted tree can be
compared as `$(git stash create)` after `git add -A`. Both trees are built
and their inputs and oracle results prepared by one discarded `--seconds 1`
run per workload; then, per workload, `--pairs` alternating base/change
runs of `perfbench/run.py` (seeds seed0, seed0+1, ...; the side that runs
first alternates) are made, and every run's `report.json` is copied to
`<work>/reports/`, since `run.py` deletes its runs dir on every start.
`--pairs 0` only exports, builds and prepares.

Printed per workload: every run's correctness and sentinel verdict, then per
end-to-end metric of `BENCHMARK.json` the median and interquartile range of
each side, the change/base ratio and the pairs the change won. For each
`--claim`, the verdict of the gain rule: won at least nine of ten pairs and
a median gain larger than the base side's interquartile range. Then the
per-operation medians of `tools/bench_ops.py`. With `--trace`, one traced
run per side and workload adds its per-layer metrics. Standard library only.
"""
import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile

ROOT = os.getcwd()


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True).stdout


def export(rev, work):
    """The tree of `rev` under `work`, exported once; reused while present."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}").decode().strip()
    tree = os.path.join(work, sha[:12])
    if not os.path.isdir(tree):
        tmp = tree + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        with tarfile.open(fileobj=io.BytesIO(git("archive", "--format=tar", sha))) as tar:
            tar.extractall(tmp, **({"filter": "data"} if hasattr(tarfile, "data_filter") else {}))
        os.replace(tmp, tree)
    return sha, tree


def bench(tree, workload, seed, seconds, trace):
    """(report, path of its report.json) of one perfbench run in `tree`."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"perfbench failed in {tree} (exit {p.returncode}):\n{p.stdout}{p.stderr[-3000:]}")
    path = os.path.join(tree, ".bench_build", "runs", f"{workload}-s{seed}-t{trace}", "report.json")
    with open(path) as f:
        report = json.load(f)
    last = json.loads(p.stdout.strip().splitlines()[-1])
    report["_correct"], report["_failed"] = last["correct"], last["failed"]
    return report, path


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def better(direction, change, base):
    return change < base if direction == "lower" else change > base


def summarize(workload, runs, metrics, claims):
    """Prints one workload's table; returns the claim verdicts."""
    print(f"\n== {workload}: {len(runs)} pairs")
    for i, (b, c) in enumerate(runs):
        for side, r in (("base", b), ("change", c)):
            s = r["sentinel"]
            print(f"  pair {i} seed {r['seed']} {side:6}: correct={r['_correct']} "
                  f"failed={r['_failed']} sentinel {s['pre_ms']}/{s['post_ms']} ms {s['verdict']}")
    print(f"  {'metric':16} {'base med':>10} {'base IQR':>19} {'change med':>10} "
          f"{'change IQR':>19} {'ratio':>6} {'won':>5}")
    verdicts = []
    for name, direction in metrics:
        bs = [b["end_to_end"][name][0] for b, _ in runs]
        cs = [c["end_to_end"][name][0] for _, c in runs]
        bm, cm = statistics.median(bs), statistics.median(cs)
        bq, cq = quartiles(bs), quartiles(cs)
        won = sum(better(direction, c, b) for b, c in zip(bs, cs))
        ratio = cm / bm if bm else float("inf")
        print(f"  {name:16} {bm:10.3f} [{bq[0]:8.3f},{bq[1]:8.3f}] {cm:10.3f} "
              f"[{cq[0]:8.3f},{cq[1]:8.3f}] {ratio:6.3f} {won:>2}/{len(runs)}")
        if f"{workload}/{name}" in claims:
            gain = bm - cm if direction == "lower" else cm - bm
            ok = won >= 0.9 * len(runs) and gain > bq[1] - bq[0]
            verdicts.append((f"{workload}/{name}", ok,
                             f"won {won}/{len(runs)}, median gain {gain:.3f} vs base IQR "
                             f"{bq[1] - bq[0]:.3f}"))
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed0", type=int, default=31)
    ap.add_argument("--workloads", nargs="+", default=["serve_endpoints", "dedup_scale"])
    ap.add_argument("--claim", nargs="*", default=[], metavar="WORKLOAD/METRIC")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--work", default=os.path.join(os.environ.get("TMPDIR", "/tmp"), "graft_ab"))
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        sys.exit("run from the repository root: BENCHMARK.json is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    os.makedirs(args.work, exist_ok=True)
    reports = os.path.join(args.work, "reports")
    os.makedirs(reports, exist_ok=True)
    (base_sha, base), (change_sha, change) = export(args.base, args.work), export(args.change, args.work)
    log(f"base {base_sha[:12]} in {base}; change {change_sha[:12]} in {change}")
    for tree in (base, change):
        for w in args.workloads:
            log(f"preparing {w} in {tree} (builds on first use)")
            bench(tree, w, 0, 1, 0)
    if args.pairs == 0:
        return

    def keep(report_path, label, w, seed, trace):
        dst = os.path.join(reports, f"{label}-{w}-s{seed}-t{trace}.json")
        shutil.copyfile(report_path, dst)
        return dst

    verdicts, kept = [], {}
    for w in args.workloads:
        runs = []
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = [("base", base), ("change", change)]
            if i % 2:
                order.reverse()
            got = {}
            for label, tree in order:
                log(f"{w} pair {i} seed {seed}: {label}")
                got[label], path = bench(tree, w, seed, args.seconds, 0)
                kept.setdefault((w, label), []).append(keep(path, label, w, seed, 0))
            runs.append((got["base"], got["change"]))
        verdicts += summarize(w, runs, metrics, set(args.claim))
        print(f"\n  per-operation medians ({w}):")
        sys.stdout.flush()
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "bench_ops.py"),
                        "--base", *kept[(w, "base")], "--change", *kept[(w, "change")]])
        if args.trace:
            traced = {}
            for label, tree in (("base", base), ("change", change)):
                log(f"{w} traced: {label}")
                traced[label], path = bench(tree, w, args.seed0, args.seconds, 1)
                keep(path, label, w, args.seed0, 1)
            print(f"\n  traced round ({w}): {'layer metric':28} {'base':>14} {'change':>14}")
            for name in sorted(traced["base"]["per_layer"]):
                b = traced["base"]["per_layer"][name][0]
                c = traced["change"]["per_layer"].get(name, [None])[0]
                print(f"    {name:40} {b!s:>14} {c!s:>14}")
    if verdicts:
        print("\nclaims:")
        for name, ok, why in verdicts:
            print(f"  {name}: {'HOLDS' if ok else 'NOT SHOWN'} ({why})")
    print(f"\nreports kept in {reports}")


if __name__ == "__main__":
    main()
