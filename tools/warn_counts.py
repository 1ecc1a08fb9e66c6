#!/usr/bin/env python3
"""Count the WARN lines of Spark/sbt logs, grouped by logger and message.

Usage: python3 tools/warn_counts.py LOG [LOG ...]

A WARN line is any line holding ` WARN <logger>: <message>` (log4j's
pattern, with or without sbt's `[info]`/`[error]` prefix). Lines are
grouped by the logger's short name and the first five words of the
message, with every word that holds a digit replaced by `N`, so
"RDD 5934 was locally checkpointed" and "RDD 779 was locally checkpointed"
fall in one group. Prints one count column per log, largest groups first,
then each log's total. Standard library only.
"""
import argparse
import collections
import os
import re
import signal
import sys

WARN = re.compile(r" WARN ([\w.$]+): (.*)")
WORDS = 5  # message words that name a group


def group(line):
    m = WARN.search(line)
    if not m:
        return None
    logger = m.group(1).rsplit(".", 1)[-1]
    msg = ["N" if any(c.isdigit() for c in w) else w.rstrip(",.:;")
           for w in m.group(2).split()[:WORDS]]
    return logger, " ".join(msg)


def counts(path):
    c = collections.Counter()
    with open(path, errors="replace") as f:
        for line in f:
            g = group(line)
            if g:
                c[g] += 1
    return c


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("logs", nargs="+")
    args = ap.parse_args()
    per_log = [counts(p) for p in args.logs]
    groups = set().union(*per_log)
    names = [os.path.basename(p) for p in args.logs]
    width = max(8, *(len(n) for n in names))
    print("  ".join(n.rjust(width) for n in names) + "  logger: message")
    for g in sorted(groups, key=lambda g: (-sum(c[g] for c in per_log), g)):
        cols = "  ".join(str(c[g]).rjust(width) for c in per_log)
        print(f"{cols}  {g[0]}: {g[1]}")
    print("  ".join(str(sum(c.values())).rjust(width) for c in per_log) + "  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
