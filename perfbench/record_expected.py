#!/usr/bin/env python3
"""Records the expected contract outputs in perfbench/expected.json.

    python3 perfbench/record_expected.py sf0.1 [sf0.01 ...]

Run from the repository root. For each scale it runs graft.Verify over
the benchmark's contract tables for the queries in workloads.json,
compares every output with DuckDB through tools/validate.py, and stops
unless every query matches exactly. Only then does it store each
validated output's row count and checksum, computed by the same
function the benchmark applies to its live outputs.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def record(cp, scale):
    queries = run.CONFIG["contract_queries"]
    work = run.BUILD / "work" / f"expected_{scale}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data = run.tables(scale)
    out = work / "verify_out"
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=",".join(queries))
    subprocess.run(run.java_cmd(cp, work, "graft.Verify", [str(data), str(out)]),
                   cwd=work, env=env, check=True, timeout=900)
    check = subprocess.run([sys.executable, str(run.ROOT / "tools" / "validate.py"), str(data), str(out)],
                           capture_output=True, text=True, timeout=600)
    print(check.stdout)
    status = {l.split()[0]: l.split()[1] for l in check.stdout.splitlines()
              if len(l.split()) >= 2 and l.split()[0] in queries}
    bad = [q for q in queries if status.get(q) != "OK"]
    if check.returncode != 0 or bad:
        raise SystemExit(f"record_expected: {scale}: not validated against DuckDB: {bad}")
    sums = work / "expected.json"
    subprocess.run(run.java_cmd(cp, work, "perfbench.Expected", [str(out), ",".join(queries), str(sums)]),
                   cwd=work, check=True, timeout=600)
    return json.loads(sums.read_text())


def main():
    cp = run.build()
    expected = json.loads(run.EXPECTED.read_text()) if run.EXPECTED.exists() else {}
    for scale in sys.argv[1:]:
        expected[scale] = dict(sorted(record(cp, scale).items()))
    run.EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
