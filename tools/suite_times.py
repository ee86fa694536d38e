#!/usr/bin/env python3
"""Per-suite ScalaTest wall times from the JUnit XML reports.

Usage:
    python3 tools/suite_times.py [REPORT_DIR]

REPORT_DIR defaults to target/test-reports. Prints each suite's seconds
(slowest first), then the total and its share of the 2670 s Tier-1 test
timeout, so a run creeping toward that limit shows before it trips.
Reports only: the exit status is 0 whatever the times.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

TIER1_TIMEOUT_S = 2670


def suite_times(report_dir):
    """-> [(suite name, seconds)], slowest first."""
    rows = []
    for path in glob.glob(os.path.join(report_dir, "*.xml")):
        root = ET.parse(path).getroot()
        suites = [root] if root.tag == "testsuite" else root.iter("testsuite")
        for s in suites:
            rows.append((s.get("name", os.path.basename(path)),
                         float(s.get("time") or 0.0)))
    return sorted(rows, key=lambda r: (-r[1], r[0]))


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = suite_times(report_dir)
    if not rows:
        print(f"no suite reports under {report_dir}")
        return
    width = max(len(name) for name, _ in rows)
    for name, sec in rows:
        print(f"{name:<{width}}  {sec:9.1f}")
    total = sum(sec for _, sec in rows)
    print(f"total: {total:.1f} s over {len(rows)} suites = "
          f"{100 * total / TIER1_TIMEOUT_S:.0f} % of the "
          f"{TIER1_TIMEOUT_S} s Tier-1 timeout")


if __name__ == "__main__":
    main()
