#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the result fingerprint of every
`analytic` query, and a one-off DuckDB cross-check of those results.

    python3 perfbench/gen_expected.py

Run it from the root of a checkout. It runs each analytic query once in a
benchmark JVM (record mode), stores the fingerprints, and compares every
result whose oracle SQL computes from the tables (not a literal golden)
with DuckDB through tools/oracle_check.py. The check's outcome is stored
next to the fingerprints. `maintain` needs no stored values: its checks
are computed from the inputs each run generates.
"""

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import oracle_check  # noqa: E402


def main():
    java = run.build()
    out = os.path.join(run.BUILD, f"record-{time.time_ns()}")
    os.makedirs(os.path.join(out, "tmp"))
    cmd = [java[0], f"-Djava.io.tmpdir={out}/tmp"] + java[1:] + [
        "--workload", "analytic", "--seed", "0", "--cpus", str(len(os.sched_getaffinity(0))),
        "--root", out, "--data", run.DATA, "--record", out]
    try:
        rc = subprocess.run(cmd, cwd=out).returncode
        if rc != 0:
            sys.exit(f"record run failed with {rc}")
        with open(os.path.join(out, "fingerprints.json")) as fh:
            fps = json.load(fh)
        with open(os.path.join(out, "oracle_sql.json")) as fh:
            checked = sorted(json.load(fh))
        report = io.StringIO()
        with contextlib.redirect_stdout(report):
            oracle_check.main(run.DATA, out)
        lines = report.getvalue().splitlines()
        print("\n".join(lines))
        failed = sorted(ln.split()[1].rstrip(":") for ln in lines if ln.startswith("FAIL"))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    import duckdb
    expected = {
        "analytic": dict(sorted(fps.items())),
        "duckdb_cross_check": {
            "duckdb": duckdb.__version__, "data": os.path.basename(run.DATA),
            "checked": len(checked), "failed": failed,
            "not_checked": sorted(set(fps) - set(checked)),
        },
    }
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1)
        fh.write("\n")
    print(f"{len(fps)} fingerprints, DuckDB cross-check: {len(checked) - len(failed)}"
          f"/{len(checked)} match")


if __name__ == "__main__":
    main()
