#!/usr/bin/env python3
"""Record the library_mix expected results, checked against DuckDB.

    python3 etlbench/record_library.py

Runs each library_mix query once on the bundled tables, compares every
result with its DuckDB oracle through the repository's
tools/check_parity.py, and only if all of them agree writes each query's
row count and order-insensitive digest to etlbench/expected/library_mix.json.
Run it from the root of a checkout when the query list or the tables change.
"""
import json
import os
import shutil
import subprocess
import sys
import time

import run

if __name__ == "__main__":
    try:
        built = run.build()
        work = os.path.join(run.STATE, "work", "record")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        res = run.jvm(built, "record", time.time() + 600, mode="record", workload="library_mix",
                      inputs=run.LIBRARY_DATA, work=work, queries=",".join(run.LIBRARY_MIX))
    except run.BenchError as e:
        run.log("FAILED (%s)" % e)
        sys.exit(run.EXIT[e.cause])
    parity = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_parity.py"),
                             run.LIBRARY_DATA, os.path.join(work, "record")])
    if parity.returncode != 0:
        run.log("FAILED (oracle mismatch): a library query disagrees with DuckDB")
        sys.exit(run.EXIT["oracle mismatch"])
    with open(run.LIBRARY_EXPECTED, "w") as f:
        json.dump({q: res["digests"][q] for q in run.LIBRARY_MIX}, f, indent=1)
        f.write("\n")
    run.log("wrote %s" % run.LIBRARY_EXPECTED)
