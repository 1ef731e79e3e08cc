#!/usr/bin/env python3
"""Regenerates fingerprints.json, the pipeline workload's stored answers.

    python3 perfbench/oracle/regen.py

Run from the repository root. For every pipeline key it takes the DuckDB
query the program ships as that key's oracle (`SparkEntry.oracleSql`, read
through the harness), runs it over the benchmark's fixture with DuckDB,
and stores the canonical fingerprint of the answer (see fingerprint.py).
Running DuckDB once here keeps the oracle out of the timed runs.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import build  # noqa: E402
import fingerprint  # noqa: E402
import run  # noqa: E402


def oracle_sql(root, keys):
    classes = build.build(root)
    with tempfile.TemporaryDirectory(dir=build.target_dir(root)) as out:
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(root, classes),
                        "perfbench.Harness", "workload=oracle-sql", f"out={out}",
                        "keys=" + ",".join(keys)], check=True)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            return json.load(f)


def main():
    keys = sorted(run.FAMILY_OF)
    fixture = run.CONFIG["pipeline"]["fixture"]
    sql = oracle_sql(os.getcwd(), keys)
    con = duckdb.connect()
    for t in run.CONFIG["pipeline"]["tables"].split(","):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    prints = {}
    for key in keys:
        res = con.execute(sql[key])
        cols = [d[0] for d in res.description]
        prints[key] = dict(fingerprint.fingerprint(res.fetchall(), cols), sql=sql[key])
        print(f"{key}: {prints[key]['rows']} rows", file=sys.stderr)
    with open(os.path.join(HERE, "fingerprints.json"), "w") as f:
        json.dump({"fixture": os.path.relpath(fixture, os.path.dirname(HERE)),
                   "engine": f"duckdb {duckdb.__version__}", "keys": prints}, f, indent=1,
                  sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
