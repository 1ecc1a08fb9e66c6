#!/usr/bin/env python3
"""Per-suite wall time of the last test run, against the tier-1 cap.

Usage: python3 tools/suite_times.py [report_dir]

Reads every TEST-*.xml JUnit report that `sbt test` / `sbt testOnly`
leaves in report_dir (default target/test-reports), prints each suite's
seconds sorted descending, then the total and the total's share of the
2,670 s tier-1 cap. Standard library only; no rerun needed. sbt rewrites
only the reports of suites it ran, so a deleted suite's old report stays
(and is counted) until target/test-reports is removed.
"""
import glob
import os
import signal
import sys
import xml.etree.ElementTree as ET

CAP_S = 2670.0


def suite_times(report_dir):
    times = {}
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        suite = ET.parse(path).getroot()
        times[suite.get("name")] = float(suite.get("time"))
    return times


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    times = suite_times(report_dir)
    if not times:
        sys.exit(f"no TEST-*.xml reports under {report_dir}")
    width = max(len(n) for n in times)
    for name, t in sorted(times.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{name:<{width}}  {t:9.1f}")
    total = sum(times.values())
    print(f"{'total (' + str(len(times)) + ' suites)':<{width}}  {total:9.1f}")
    print(f"share of the {CAP_S:,.0f} s tier-1 cap: {100 * total / CAP_S:.1f} %")


if __name__ == "__main__":
    main()
