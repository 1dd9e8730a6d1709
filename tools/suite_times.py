#!/usr/bin/env python3
"""Per-suite wall time and test counts from sbt's JUnit XML reports.

Usage: python3 tools/suite_times.py [reports_dir [after_dir]]
       (default: target/test-reports, i.e. the last `sbt test` run)

With one dir: one row per suite, slowest first, then the totals. A suite
with failures or errors is flagged in the last column.

With two dirs (e.g. a copy of the parent commit's reports, then this
change's): one row per suite in either, `before -> after` seconds and
test counts, ordered by the largest time change first. A suite missing
from one side shows `-` there.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(reports):
    """{suite: (secs, tests, skipped, failed+errors)} from one dir."""
    suites = {}
    for path in glob.glob(os.path.join(reports, "TEST-*.xml")):
        s = ET.parse(path).getroot()
        bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
        suites[s.get("name")] = (float(s.get("time", 0)),
                                 int(s.get("tests", 0)),
                                 int(s.get("skipped", 0)), bad)
    if not suites:
        sys.exit(f"no TEST-*.xml under {reports}")
    return suites


def single(suites):
    rows = sorted(suites.items(), key=lambda kv: kv[1][0], reverse=True)
    print(f"{'suite':<40} {'secs':>8} {'tests':>6} {'skip':>5}  failed")
    for name, (secs, tests, skipped, bad) in rows:
        print(f"{name:<40} {secs:8.1f} {tests:6d} {skipped:5d}  "
              f"{bad if bad else ''}")
    tot = [sum(v[i] for v in suites.values()) for i in range(4)]
    print(f"{'TOTAL (' + str(len(rows)) + ' suites)':<40} "
          f"{tot[0]:8.1f} {tot[1]:6d} {tot[2]:5d}  {tot[3] or ''}")


def compare(before, after):
    def cell(side, name, i, fmt):
        return format(side[name][i], fmt) if name in side else "-"

    names = sorted(set(before) | set(after), key=lambda n: -abs(
        after.get(n, (0,))[0] - before.get(n, (0,))[0]))
    print(f"{'suite':<40} {'secs before -> after':>22} "
          f"{'tests before -> after':>22}  failed")
    for n in names:
        secs = f"{cell(before, n, 0, '.1f')} -> {cell(after, n, 0, '.1f')}"
        tests = f"{cell(before, n, 1, 'd')} -> {cell(after, n, 1, 'd')}"
        bad = after[n][3] if n in after else 0
        print(f"{n:<40} {secs:>22} {tests:>22}  {bad if bad else ''}")
    tb, ta = (sum(v[0] for v in s.values()) for s in (before, after))
    nb, na = (sum(v[1] for v in s.values()) for s in (before, after))
    print(f"{'TOTAL':<40} {f'{tb:.1f} -> {ta:.1f}':>22} "
          f"{f'{nb} -> {na}':>22}")


def main():
    args = sys.argv[1:] or ["target/test-reports"]
    if len(args) > 2:
        sys.exit(__doc__)
    if len(args) == 1:
        single(load(args[0]))
    else:
        compare(load(args[0]), load(args[1]))


if __name__ == "__main__":
    main()
