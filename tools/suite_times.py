#!/usr/bin/env python3
"""Per-suite wall time from the JUnit XML reports sbt writes under
target/test-reports/TEST-*.xml, sorted slowest first, plus the total.

Usage: python3 tools/suite_times.py [reportsDir=target/test-reports]
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suite_times(reports_dir):
    """[(suite name, seconds)] from every TEST-*.xml, slowest first."""
    out = []
    for path in glob.glob(os.path.join(reports_dir, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        suites = [root] if root.tag == "testsuite" else root.findall("testsuite")
        for s in suites:
            out.append((s.get("name", os.path.basename(path)), float(s.get("time", "0"))))
    return sorted(out, key=lambda t: (-t[1], t[0]))


def main(reports_dir):
    times = suite_times(reports_dir)
    if not times:
        print(f"no TEST-*.xml under {reports_dir}", file=sys.stderr)
        return 1
    width = max(len(name) for name, _ in times)
    for name, secs in times:
        print(f"{name:<{width}}  {secs:9.3f} s")
    print(f"{'TOTAL':<{width}}  {sum(s for _, s in times):9.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"))
