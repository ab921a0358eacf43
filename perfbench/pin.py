#!/usr/bin/env python3
"""Re-pin the batch_query_mix output gate.

    python3 perfbench/pin.py

Runs each mix query once on perfbench/data/sf0.01, writes its output as
parquet, and checks every output against the query's DuckDB oracle with the
repo's tools/check.py. Only when all of them pass does it write each query's
row count and order-independent hash to perfbench/pins.json. Needs duckdb
and pandas in the Python environment.
"""
import os
import shutil
import subprocess
import sys

import run


def main():
    cp = run.build()
    res = run.run_jvm(cp, "pin_query_mix", 0, 0, False, keep=True)
    verify = res["run_dir"] + "/verify"
    try:
        if res["failed"]:
            sys.exit("pin: a query's parquet output hashes differently from its live output")
        check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                                run.DATA, verify])
        if check.returncode != 0:
            sys.exit("pin: outputs disagree with the DuckDB oracle; pins.json left unchanged")
        shutil.copyfile(os.path.join(verify, "pins.json"), run.PINS)
        print(f"pin: wrote {run.PINS}")
    finally:
        shutil.rmtree(res["run_dir"], ignore_errors=True)


if __name__ == "__main__":
    main()
