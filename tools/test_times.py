#!/usr/bin/env python3
"""Summarize a ScalaTest run's timings from sbt's JUnit XML reports.

Reads target/test-reports/TEST-*.xml (written by `sbt test` or
`sbt "testOnly *"`) and writes one JSON record: per-suite and per-test
wall seconds, each sorted slowest first, the summed total, the outcome
counts, and this host's core count and load average at the time of
writing (the suite's wall time moves with host load).

Usage: python3 tools/test_times.py [OUT.json]   (stdout when omitted)
"""
import glob
import json
import os
import sys
import time
import xml.etree.ElementTree as ET

REPORTS = "target/test-reports"


def summarize(reports_dir):
    suites, tests = [], []
    counts = {"tests": 0, "failures": 0, "errors": 0, "skipped": 0}
    for path in sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for suite in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = suite.get("name")
            suites.append({"suite": name, "time_s": float(suite.get("time", 0)),
                           "tests": int(suite.get("tests", 0))})
            for k in counts:
                counts[k] += int(suite.get(k, 0))
            for case in suite.iter("testcase"):
                status = "passed"
                for tag in ("failure", "error", "skipped"):
                    if case.find(tag) is not None:
                        status = tag
                tests.append({"suite": name, "test": case.get("name"),
                              "time_s": float(case.get("time", 0)), "status": status})
    suites.sort(key=lambda s: -s["time_s"])
    tests.sort(key=lambda t: -t["time_s"])
    return {
        "written_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "host_cpus": os.cpu_count(),
        "load_avg_1_5_15": [round(x, 2) for x in os.getloadavg()],
        "total_s": round(sum(s["time_s"] for s in suites), 3),
        "counts": counts,
        "suites": suites,
        "tests": tests,
    }


def main():
    record = summarize(REPORTS)
    if not record["suites"]:
        sys.exit(f"no TEST-*.xml under {REPORTS}: run the suite first")
    # one line per suite and per test, so a diff between two records reads
    fields = [f' "{k}": ' + ("[\n" + ",\n".join("  " + json.dumps(x) for x in v) + "\n ]"
                             if isinstance(v, list) and isinstance(v[0], dict) else json.dumps(v))
              for k, v in record.items()]
    text = "{\n" + ",\n".join(fields) + "\n}\n"
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)


if __name__ == "__main__":
    main()
