#!/usr/bin/env python3
"""Regenerate oracle_hashes.json: each workload key's expected result hash,
from its SparkEntry.oracleSql run in DuckDB over the benchmark's dataset and
canonicalised as tools/check.py does (columns by name, dtype-sensitive value
rendering, sorted rows).

    python3 perfbench/oracle.py
"""
import json
import os
import shutil
import sys
import tempfile

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402


def main():
    import duckdb
    wls = common.load_workloads()
    data = common.data_dir(wls)
    keys = {k for w in wls["workloads"].values() for ks in w["keys"].values() for k in ks}
    cp, _ = common.build()
    tmp = tempfile.mkdtemp(dir=common.BUILD)
    try:
        os.makedirs(os.path.join(tmp, "tmp"))
        with open(os.path.join(tmp, "keys.txt"), "w") as f:
            f.writelines(f"{k}\n" for k in sorted(keys))
        rc = common.run_java(
            common.java_cmd(cp, tmp, "oracles", f"{tmp}/keys.txt", f"{tmp}/oracles.json"),
            os.path.join(tmp, "jvm.log"), 300)
        if rc != 0:
            raise common.BenchError(f"oracle dump exited {rc}")
        with open(f"{tmp}/oracles.json") as f:
            sql = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    con = duckdb.connect()
    for t in common.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    hashes = {}
    for key in sorted(keys):
        if sql.get(key) is None:
            raise common.BenchError(f"{key} has no oracleSql")
        digest, rows = common.frame_hash(con.execute(sql[key]).df())
        hashes[key] = {"sha256": digest, "rows": rows}
        print(f"{key} {rows} rows {digest[:12]}")
    with open(common.HASHES, "w") as f:
        json.dump({"scale": wls["scale"], "command": "python3 perfbench/oracle.py",
                   "hashes": hashes}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    try:
        main()
    except common.BenchError as e:
        common.log(f"error: {e}")
        sys.exit(2)
