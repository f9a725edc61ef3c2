#!/usr/bin/env python3
"""Self-test for suite_times.py: two hand-written JUnit reports must come
back slowest first with their exact times, and the total must be their
sum; an empty directory must fail.

Usage: python3 tools/test_suite_times.py
"""
import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(__file__))
import suite_times  # noqa: E402


def write_report(d, name, secs):
    with open(os.path.join(d, f"TEST-{name}.xml"), "w") as f:
        f.write(f'<?xml version="1.0" encoding="UTF-8"?>\n'
                f'<testsuite name="{name}" tests="1" time="{secs}">'
                f'<testcase classname="{name}" name="t" time="{secs}"/>'
                f'</testsuite>\n')


def main():
    with tempfile.TemporaryDirectory() as d:
        assert suite_times.main(d) == 1, "an empty report dir must fail"
        write_report(d, "graft.FastSpec", 1.5)
        write_report(d, "graft.SlowSpec", 12.25)
        assert suite_times.suite_times(d) == [
            ("graft.SlowSpec", 12.25), ("graft.FastSpec", 1.5)]
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = suite_times.main(d)
        lines = buf.getvalue().splitlines()
    assert rc == 0
    assert lines[0].startswith("graft.SlowSpec") and lines[1].startswith("graft.FastSpec")
    assert lines[-1].split()[:2] == ["TOTAL", "13.750"], lines[-1]
    print("suite_times self-test: PASS (slowest first, exact total, empty dir fails)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
