#!/usr/bin/env python3
"""Per-suite test times from sbt's JUnit XML reports.

Usage: python3 tools/suite_times.py [target/test-reports] [out.json]

Reads every TEST-*.xml that `sbt testOnly` leaves in the reports
directory and writes one JSON object: totals (suites, tests, failures,
errors, skipped, seconds), the earliest and latest suite start, and one
entry per suite with its seconds and test counts, slowest first. Writes
to stdout or the given path. Committing one file per round
(bench/tests_rNN.json) shows how suite time trends against the Tier-1
timeout.
"""
import glob
import json
import os
import sys
import xml.etree.ElementTree as ET

COUNTS = ("tests", "failures", "errors", "skipped")


def suites(reports):
    for path in sorted(glob.glob(os.path.join(reports, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        yield {"suite": root.get("name"), "seconds": float(root.get("time", 0)),
               "started": root.get("timestamp"),
               **{k: int(root.get(k, 0)) for k in COUNTS}}


def main():
    reports = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    out = sys.argv[2] if len(sys.argv) > 2 else None
    rows = sorted(suites(reports), key=lambda s: -s["seconds"])
    if not rows:
        sys.exit(f"no TEST-*.xml under {reports}")
    starts = sorted(s["started"] for s in rows if s["started"])
    doc = {"suites": len(rows), "seconds": round(sum(s["seconds"] for s in rows), 3),
           **{k: sum(s[k] for s in rows) for k in COUNTS},
           "first_start": starts[0] if starts else None,
           "last_start": starts[-1] if starts else None}
    # one line per suite, so a round-over-round diff shows suites, not fields
    per_suite = (json.dumps({k: s[k] for k in ("suite", "seconds", *COUNTS)}) for s in rows)
    text = (json.dumps(doc, indent=1)[:-2] + ',\n "per_suite": [\n  '
            + ",\n  ".join(per_suite) + "\n ]\n}\n")
    if out:
        with open(out, "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)


if __name__ == "__main__":
    main()
