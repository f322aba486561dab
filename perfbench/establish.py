#!/usr/bin/env python3
"""Establish (or re-establish) the recorded query_suite fingerprints.

    python3 perfbench/establish.py [--sf 0.01|0.001]

Runs the query_suite warm pass with --dump-dir, so each query's result is
written as parquet together with its fingerprint (row count +
order-insensitive 64-bit row-hash sum) and its oracle SQL, then hands the
dump to the repository's oracle gate, tools/check.py, which replays each
oracle in DuckDB over the same tables and compares schema, dtypes and
values. Fingerprints are recorded in perfbench/fingerprints.json only when
the gate passes, and only for the queries it reports as passing. Exits
non-zero on any mismatch.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=str(run.QUERY_SF), choices=[str(run.QUERY_SF), "0.001"])
    a = ap.parse_args()
    cp = run.build()
    data = run.tables(float(a.sf))
    out = os.path.join(run.WORK, f"establish-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    dump = os.path.join(out, "dump")
    run.JVM_TIMEOUT_S = 1800
    rc, _ = run.run_jvm(cp, "query_suite", 1, 0.1, False, int(time.time() * 1000),
                        selftest=a.sf == "0.001", extra=["--dump-dir", dump])
    if not os.path.exists(os.path.join(dump, "fingerprints.json")):
        sys.exit(f"warm pass produced no dump (rc={rc})")
    gate = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), data, dump],
                          stdout=subprocess.PIPE, text=True)
    sys.stdout.write(gate.stdout)
    passed = set(re.findall(r"^\[pass\] (\S+)", gate.stdout, re.M))
    fps = json.load(open(os.path.join(dump, "fingerprints.json")))[a.sf]
    shutil.rmtree(out, ignore_errors=True)
    if gate.returncode != 0:
        print("oracle gate failed: nothing recorded")
        return 1
    keep = {q: fp for q, fp in fps.items() if q in passed}
    path = os.path.join(HERE, "fingerprints.json")
    rec = json.load(open(path)) if os.path.exists(path) else {}
    rec.setdefault(a.sf, {}).update(keep)
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"== {len(keep)} recorded, {len(fps) - len(keep)} without an oracle pass ==")
    return 0 if len(keep) == len(fps) else 1


if __name__ == "__main__":
    sys.exit(main())
