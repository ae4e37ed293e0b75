#!/usr/bin/env python3
"""Regenerates perfbench/data/expected_sf0.01.json, the row counts and
fingerprints batch_suite checks every query against.

Usage, from the root of a checkout:  python3 perfbench/expect.py

It dumps each SparkEntry query's result over the bundled sf0.01 tables with
graft.Verify, compares every result with its DuckDB oracle SQL through
tools/check.py, and only when all of them pass writes the fingerprints of
those checked results as the expected file.
"""
import shutil
import subprocess
import sys

import run

SF_DIR = run.HERE / "data" / "sf0.01"
EXPECTED = run.HERE / "data" / "expected_sf0.01.json"


def main():
    cp, _ = run.build()
    work = run.BUILD / "expect"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    dump, out = work / "dump", work / "expected.json"
    with open(work / "expect.log", "w") as log:
        def java(*args):
            subprocess.run(run.java_cmd(cp, work / "tmp") + list(args), cwd=run.ROOT,
                           stdout=log, stderr=subprocess.STDOUT, check=True)
        java("graft.Verify", str(SF_DIR), str(dump))
        check = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"),
                                str(SF_DIR), str(dump)], cwd=run.ROOT)
        if check.returncode != 0:
            sys.exit("oracle comparison failed; expected file left unchanged")
        java("perfbench.Expect", str(dump), str(out))
    shutil.copyfile(out, EXPECTED)
    print(f"wrote {EXPECTED}")


if __name__ == "__main__":
    main()
