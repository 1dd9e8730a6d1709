#!/usr/bin/env python3
"""Per-suite wall time and test counts from sbt's JUnit XML reports.

Usage: python3 tools/suite_times.py [reports_dir]
       (default: target/test-reports, i.e. the last `sbt test` run)

Prints one row per suite, slowest first, then the totals. A suite with
failures or errors is flagged in the last column.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main():
    reports = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = []
    for path in glob.glob(os.path.join(reports, "TEST-*.xml")):
        s = ET.parse(path).getroot()
        bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
        rows.append((float(s.get("time", 0)), s.get("name"),
                     int(s.get("tests", 0)), int(s.get("skipped", 0)), bad))
    if not rows:
        sys.exit(f"no TEST-*.xml under {reports}")
    rows.sort(reverse=True)
    print(f"{'suite':<40} {'secs':>8} {'tests':>6} {'skip':>5}  failed")
    for secs, name, tests, skipped, bad in rows:
        print(f"{name:<40} {secs:8.1f} {tests:6d} {skipped:5d}  "
              f"{bad if bad else ''}")
    print(f"{'TOTAL (' + str(len(rows)) + ' suites)':<40} "
          f"{sum(r[0] for r in rows):8.1f} {sum(r[2] for r in rows):6d} "
          f"{sum(r[3] for r in rows):5d}  {sum(r[4] for r in rows) or ''}")


if __name__ == "__main__":
    main()
