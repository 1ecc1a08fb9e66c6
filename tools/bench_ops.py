#!/usr/bin/env python3
"""Per-operation latency diff of perfbench runs: base side vs change side.

Usage: python3 tools/bench_ops.py --base A.json B.json [...] --change C.json D.json [...]

Each argument is a `report.json` that `perfbench/run.py` writes
(`.bench_build/runs/<workload>-s<seed>-t<trace>/report.json`; the next run
deletes it, so copy it away first). All reports must be of one workload.
For every operation, the timed-call latencies of a side's reports
(`latency_ms_by_op`) are pooled and their median printed for both sides,
with the change/base ratio, sorted by ratio. The last line sums the
per-operation medians of each side. Standard library only.
"""
import argparse
import json
import signal
import statistics
import sys


def load(paths):
    """(workload, {op: [ms, ...]}) pooled over the reports of one side."""
    workloads, samples = set(), {}
    for path in paths:
        with open(path) as f:
            report = json.load(f)
        workloads.add(report["workload"])
        for op, ms in report["latency_ms_by_op"].items():
            samples.setdefault(op, []).extend(ms)
    return workloads, samples


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True, metavar="REPORT")
    ap.add_argument("--change", nargs="+", required=True, metavar="REPORT")
    args = ap.parse_args()
    base_wl, base = load(args.base)
    change_wl, change = load(args.change)
    if len(base_wl | change_wl) != 1:
        sys.exit(f"reports of more than one workload: {sorted(base_wl | change_wl)}")
    ops = sorted(op for op in base.keys() & change.keys() if base[op] and change[op])
    if not ops:
        sys.exit("no operation has samples on both sides")
    rows = [(op, statistics.median(base[op]), statistics.median(change[op]),
             len(base[op]), len(change[op])) for op in ops]
    rows.sort(key=lambda r: (r[2] / r[1] if r[1] else float("inf"), r[0]))
    width = max(len(op) for op in ops + ["total"])
    print(f"{'operation':<{width}}  {'base ms':>9}  {'change ms':>9}  {'ratio':>6}  {'n':>7}")
    for op, b, c, nb, nc in rows:
        ratio = f"{c / b:6.3f}" if b else "   inf"
        print(f"{op:<{width}}  {b:9.1f}  {c:9.1f}  {ratio}  {nb:>3}/{nc:<3}")
    tb, tc = sum(r[1] for r in rows), sum(r[2] for r in rows)
    faster = sum(1 for r in rows if r[2] < r[1])
    print(f"{'total':<{width}}  {tb:9.1f}  {tc:9.1f}  {tc / tb:6.3f}  "
          f"({faster} of {len(rows)} faster)")
    missing = sorted(base.keys() ^ change.keys())
    if missing:
        print(f"on one side only: {', '.join(missing)}")


if __name__ == "__main__":
    main()
