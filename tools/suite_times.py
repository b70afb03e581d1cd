#!/usr/bin/env python3
"""Per-suite wall seconds of the last ScalaTest run, slowest first.

Usage, after `sbt "testOnly *"` (or `sbt test`):

    python3 tools/suite_times.py [reports_dir] [--tests N]

Reads the JUnit XML reports sbt writes (default `target/test-reports`),
prints one line per suite (seconds, test count, failures + errors, name),
then the total against the 2,670 s `testOnly` timeout of the tier-1 run.
`--tests N` then prints the N slowest test cases across all suites.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

BUDGET_S = 2670.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reports", nargs="?", default="target/test-reports")
    ap.add_argument("--tests", type=int, default=0, metavar="N",
                    help="also print the N slowest test cases")
    args = ap.parse_args()
    rows, cases = [], []
    for path in glob.glob(os.path.join(args.reports, "*.xml")):
        suite = ET.parse(path).getroot()
        name = suite.get("name", os.path.basename(path))
        rows.append((float(suite.get("time", 0.0)), int(suite.get("tests", 0)),
                     int(suite.get("failures", 0)) + int(suite.get("errors", 0)),
                     name))
        for case in suite.iter("testcase"):
            cases.append((float(case.get("time", 0.0)), name, case.get("name", "")))
    if not rows:
        sys.exit(f"no JUnit XML reports under {args.reports}")
    rows.sort(reverse=True)
    for secs, tests, bad, name in rows:
        print(f"{secs:9.1f} s  {tests:4d} tests  {bad:3d} failed  {name}")
    total = sum(r[0] for r in rows)
    print(f"{total:9.1f} s  {sum(r[1] for r in rows):4d} tests  "
          f"{sum(r[2] for r in rows):3d} failed  TOTAL over {len(rows)} suites "
          f"= {100.0 * total / BUDGET_S:.1f}% of the {BUDGET_S:.0f} s budget")
    if args.tests > 0:
        print(f"\nslowest {args.tests} test cases:")
        for secs, suite, test in sorted(cases, reverse=True)[:args.tests]:
            print(f"{secs:9.1f} s  {suite}: {test}")


if __name__ == "__main__":
    main()
