#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting, on a real server defect.

A ``search_logs`` call with an invalid regex makes ``LogQueries.searchLogs``
throw ``PatternSyntaxException``; nothing between it and ``McpServer.serve``
catches it, so the server stops answering.  A run that meets this must be
reported as failed, never as fast: the bad call and every call the server
did not answer count as failed, the run is not ``correct``, and it attempts
as many calls as a clean run of the same seed.

    python3 perfbench/selftest.py        # from the repository root
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import bench  # noqa: E402

SECONDS = 20


def main():
    clean = bench("churn", 7, SECONDS, False)
    bad = bench("churn", 7, SECONDS, False, inject=("search_logs", {"pattern": "(unclosed"}))
    print("clean:", clean)
    print("with the defect:", bad)
    checks = {
        "the clean run is correct": clean["correct"] and clean["failed"] == 0,
        "the run with the defect is not correct": not bad["correct"],
        "the bad call and the unanswered ones failed": bad["failed"] >= 2,
        "no fewer calls attempted than a clean run":
            bad["attempted"] >= 0.9 * clean["attempted"],
        "pass_s not shorter than clean": "pass_s" not in bad["metrics"]
            or bad["metrics"]["pass_s"]["value"] >= 0.8 * clean["metrics"]["pass_s"]["value"],
    }
    for name, ok in checks.items():
        print(("ok   " if ok else "FAIL ") + name)
    sys.exit(0 if all(checks.values()) else 1)


if __name__ == "__main__":
    main()
