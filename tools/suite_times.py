#!/usr/bin/env python3
"""Per-suite test times from sbt's JUnit XML reports.

Usage: python3 tools/suite_times.py [reportDir] [--top N]

Reads every TEST-*.xml under reportDir (default target/test-reports),
prints one line per suite -- seconds, tests, failures+errors, skipped,
name -- slowest first, then the total. Dev tool only: the numbers are
the ones `sbt testOnly *` wrote for its last run.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            yield (float(s.get("time", 0)), int(s.get("tests", 0)),
                   int(s.get("failures", 0)) + int(s.get("errors", 0)),
                   int(s.get("skipped", 0)), s.get("name", path))


def main(argv):
    top = None
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    report_dir = argv[0] if argv else "target/test-reports"
    rows = sorted(suites(report_dir), reverse=True)
    if not rows:
        sys.exit(f"no TEST-*.xml under {report_dir}")
    print(f"{'seconds':>9} {'tests':>5} {'fail':>4} {'skip':>4}  suite")
    for secs, tests, fail, skip, name in rows[:top]:
        print(f"{secs:9.1f} {tests:5d} {fail:4d} {skip:4d}  {name}")
    print(f"{sum(r[0] for r in rows):9.1f} {sum(r[1] for r in rows):5d} "
          f"{sum(r[2] for r in rows):4d} {sum(r[3] for r in rows):4d}  "
          f"total ({len(rows)} suites)")


if __name__ == "__main__":
    main(sys.argv[1:])
