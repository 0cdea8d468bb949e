#!/usr/bin/env python3
"""Summarize a Tier-1 test run from its JUnit XML reports.

Usage: python3 scripts/tier1_summary.py [REPORT_DIR]   (default target/test-reports)

Prints passed/failed per suite, then splits the failures into
"missing reference fixture" (the failure message, or a "Caused by" line of
its stack trace, names a file under the Druid source checkout that
ReferenceFixtures resolves) and "other", listing each "other" failure.
Exits 1 when any "other" failure exists, 2 when no report is found.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

FIXTURE_ROOT = "/root/reference/"


def names_fixture(message, text):
    if FIXTURE_ROOT in message:
        return True
    return any(FIXTURE_ROOT in line for line in text.splitlines()
               if line.lstrip().startswith("Caused by:"))


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    reports = sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml")))
    if not reports:
        print(f"no TEST-*.xml reports under {report_dir}")
        return 2
    fixture, other = [], []
    total = failed_total = 0
    print(f"{'passed':>7} {'failed':>7}  suite")
    for path in reports:
        suite = ET.parse(path).getroot()
        name = suite.get("name")
        passed = failed = 0
        for case in suite.iter("testcase"):
            bad = [e for e in case if e.tag in ("failure", "error")]
            if not bad:
                if not any(e.tag == "skipped" for e in case):
                    passed += 1
                continue
            failed += 1
            e = bad[0]
            message, text = e.get("message") or "", e.text or ""
            entry = (name, case.get("name"), message.splitlines()[0] if message else "")
            (fixture if names_fixture(message, text) else other).append(entry)
        total += passed + failed
        failed_total += failed
        print(f"{passed:>7} {failed:>7}  {name}")
    print(f"\n{total} tests, {failed_total} failed: "
          f"{len(fixture)} missing reference fixture, {len(other)} other")
    for suite, case, message in other:
        print(f"OTHER {suite} :: {case}\n      {message[:300]}")
    return 1 if other else 0


if __name__ == "__main__":
    sys.exit(main())
