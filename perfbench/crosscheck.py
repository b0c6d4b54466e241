#!/usr/bin/env python3
"""Cross-checks perfbench/expected.json against DuckDB.

    python3 perfbench/crosscheck.py

Run from the root of a full checkout. Dumps the benchmark's queries over
its seed-42 tables with ``graft.Verify``, then runs ``tools/t2_local.py``,
which compares each dump with its DuckDB oracle value for value, and
finally compares each oracle's row count with the row count committed in
expected.json. The content hashes in expected.json are the harness's
hashes of those same Spark results.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    classes = build.build(root)
    tables = run.tables_dir(root)
    queries = sorted({op for ops in run.WORKLOADS.values() for op in ops if op.startswith("q_")})
    work = os.path.abspath(os.path.join(root, build.BUILD_DIR, "crosscheck"))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd, env = run.java(classes, tmp)
    env["SPARK_GRAFT_ONLY"] = ",".join(queries)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    subprocess.run(cmd + ["graft.Verify", tables, os.path.join(work, "dump")], env=env,
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    t2 = subprocess.run([sys.executable, os.path.join(root, "tools/t2_local.py"), tables,
                         os.path.join(work, "dump")], capture_output=True, text=True)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    ok = True
    for q in queries:
        line = next((x for x in t2.stdout.splitlines() if re.match(rf"(PASS|FAIL|SKIP) {q}\b", x)),
                    f"NONE {q}: no oracle")
        m = re.match(rf"PASS {q} \((\d+) rows\)", line)
        if m:
            rows = int(m.group(1))
            match = rows == expected[q]["rows"]
            ok &= match
            print(f"{q}: DuckDB oracle equals the Spark result ({rows} rows); "
                  f"expected.json rows {expected[q]['rows']} {'match' if match else 'DIFFER'}")
        else:
            ok &= not line.startswith("FAIL")
            print(f"{q}: {line}")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
