#!/usr/bin/env python3
"""Per-suite wall time of the last test run, slowest first, with the total.

    python3 tools/suite_times.py [reports-dir] [--top N]

Reads the JUnit XML reports sbt writes (default `target/test-reports`,
files `TEST-*.xml`) and prints one line per suite: seconds, share of the
total, test count and suite name. The last line is the total over every
suite. The times are each suite's own `time` attribute; suites of one
forked JVM run one after another, so the total is close to the wall time
of the `testOnly` step minus JVM and Spark start-up.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(reports):
    """(seconds, tests, name) of every suite report in `reports`."""
    out = []
    for path in glob.glob(os.path.join(reports, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            out.append((float(s.get("time", 0)), int(s.get("tests", 0)), s.get("name", path)))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reports", nargs="?", default="target/test-reports")
    ap.add_argument("--top", type=int, default=0, help="print only the N slowest suites")
    args = ap.parse_args()
    rows = sorted(suites(args.reports), reverse=True)
    if not rows:
        sys.exit(f"no TEST-*.xml reports in {args.reports}")
    total = sum(t for t, _, _ in rows)
    for t, n, name in rows[:args.top or None]:
        print(f"{t:9.1f} s  {100 * t / total:5.1f}%  {n:4d} tests  {name}")
    print(f"{total:9.1f} s  total over {len(rows)} suites, {sum(n for _, n, _ in rows)} tests")


if __name__ == "__main__":
    main()
