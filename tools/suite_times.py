#!/usr/bin/env python3
"""Per-suite wall time of the last test run, slowest first, with the total.

    python3 tools/suite_times.py [reports-dir] [--top N] [--budget-s S]

Reads the JUnit XML reports sbt writes (default `target/test-reports`,
files `TEST-*.xml`) and prints one line per suite: seconds, share of the
total, test count and suite name. The next line is the total over every
suite, and the last its share of the tier-1 `testOnly *` step's 2,670 s
timeout. The times are each suite's own `time` attribute; suites of one
forked JVM run one after another, so the total is close to the wall time
of the `testOnly` step minus JVM and Spark start-up. With `--budget-s S`
the share is of S seconds instead, and the script exits 1 when it is
above 80%: a suite set nearing its timeout fails this check before a
run that passes its tests is killed by the timeout.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


# the tier-1 `testOnly *` step's timeout (ROADMAP's tier-1 command), and
# the share of a budget above which a run is too close to it
Tier1TimeoutS = 2670.0
MaxShare = 0.8


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
    ap.add_argument("--budget-s", type=float,
                    help=f"the testOnly step's timeout in seconds; exit 1 above "
                         f"{100 * MaxShare:.0f}% of it")
    args = ap.parse_args()
    if args.budget_s is not None and args.budget_s <= 0:
        ap.error("--budget-s must be positive")
    budget = args.budget_s or Tier1TimeoutS
    rows = sorted(suites(args.reports), reverse=True)
    if not rows:
        sys.exit(f"no TEST-*.xml reports in {args.reports}")
    total = sum(t for t, _, _ in rows)
    for t, n, name in rows[:args.top or None]:
        print(f"{t:9.1f} s  {100 * t / total:5.1f}%  {n:4d} tests  {name}")
    print(f"{total:9.1f} s  total over {len(rows)} suites, {sum(n for _, n, _ in rows)} tests")
    share = total / budget
    print(f"{100 * share:9.1f} %  of the {budget:.0f} s budget")
    if args.budget_s is not None and share > MaxShare:
        sys.exit(f"over {100 * MaxShare:.0f}% of the budget")


if __name__ == "__main__":
    main()
