#!/usr/bin/env python3
"""Seconds and test counts per suite of a test run.

Reads the JUnit XML reports sbt writes after `sbt test` / `testOnly`:

  python3 tools/test_times.py [reports_dir]   (default target/test-reports)

Seconds are the suites' own times as reported, summed; they exclude JVM
start-up and compilation, so the sum is below the wall time of the run.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(reports_dir):
    for path in sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        yield (root.get("name"), float(root.get("time", 0)),
               int(root.get("tests", 0)),
               int(root.get("failures", 0)) + int(root.get("errors", 0)))


def table(title, rows):
    print(f"{title:<34} {'tests':>6} {'failed':>6} {'seconds':>9}")
    for name, (tests, failed, secs) in sorted(rows.items(),
                                              key=lambda kv: -kv[1][2]):
        print(f"{name:<34} {tests:>6} {failed:>6} {secs:>9.1f}")


def main():
    reports_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    per_suite = {}
    for name, secs, tests, failed in suites(reports_dir):
        per_suite[name] = (tests, failed, secs)
    if not per_suite:
        sys.exit(f"no TEST-*.xml reports under {reports_dir}")
    table("suite", per_suite)
    total = [sum(v[i] for v in per_suite.values()) for i in range(3)]
    print(f"\n{'total':<34} {total[0]:>6} {total[1]:>6} {total[2]:>9.1f}")


if __name__ == "__main__":
    main()
