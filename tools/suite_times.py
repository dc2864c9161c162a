#!/usr/bin/env python3
"""Per-suite time table from sbt's JUnit XML reports.

    python3 tools/suite_times.py [REPORTS_DIR] [--base BASE_DIR] [--only A,B,...]

REPORTS_DIR defaults to target/test-reports (one TEST-<suite>.xml per suite).
Prints one row per suite, slowest first: tests, failures + errors, seconds and
share of the total. With --base, each row also shows the suite's seconds in
BASE_DIR (an earlier run's reports) and the difference. --only keeps the named
suites (short or fully qualified names); the total then covers those suites.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(d):
    """suite name -> (tests, failures + errors, seconds) for every report in d."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.xml"))):
        root = ET.parse(f).getroot()
        suites = [root] if root.tag == "testsuite" else root.iter("testsuite")
        for s in suites:
            out[s.get("name")] = (int(s.get("tests", 0)),
                                  int(s.get("failures", 0)) + int(s.get("errors", 0)),
                                  float(s.get("time", 0.0)))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reports", nargs="?", default="target/test-reports")
    ap.add_argument("--base", help="an earlier run's reports dir to compare with")
    ap.add_argument("--only", help="comma-separated suite names to keep")
    a = ap.parse_args()
    cur = load(a.reports)
    if not cur:
        sys.exit(f"no JUnit XML reports under {a.reports}")
    base = load(a.base) if a.base else None
    if a.only:
        want = set(a.only.split(","))
        cur = {k: v for k, v in cur.items() if k in want or k.rsplit(".", 1)[-1] in want}
    total = sum(v[2] for v in cur.values())
    head = f"{'suite':<44} {'tests':>5} {'fail':>4} {'s':>9} {'share':>6}"
    print(head + (f" {'base_s':>9} {'diff_s':>8}" if base is not None else ""))
    for name, (n, bad, t) in sorted(cur.items(), key=lambda kv: -kv[1][2]):
        row = f"{name:<44} {n:>5} {bad:>4} {t:>9.1f} {100 * t / max(total, 1e-9):>5.1f}%"
        if base is not None:
            b = base.get(name)
            row += f" {b[2]:>9.1f} {t - b[2]:>+8.1f}" if b else f" {'-':>9} {'-':>8}"
        print(row)
    line = (f"{'total (' + str(len(cur)) + ' suites)':<44} {sum(v[0] for v in cur.values()):>5} "
            f"{sum(v[1] for v in cur.values()):>4} {total:>9.1f}")
    if base is not None:
        bt = sum(base[k][2] for k in cur if k in base)
        line += f" {'':>6} {bt:>9.1f} {total - bt:>+8.1f}"
    print(line)


if __name__ == "__main__":
    main()
