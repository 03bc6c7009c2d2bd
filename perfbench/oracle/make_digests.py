#!/usr/bin/env python3
"""Refresh the DuckDB oracle digests of the analytics_mix queries.

Usage (from the root of the repository, after one benchmark build):
  python3 perfbench/oracle/make_digests.py

Asks the harness for the oracle SQL of the 13 queries (graft.SparkEntry),
runs each in DuckDB over perfbench/data and writes oracle_sql.json and
digests.json next to this script. The digest normalizes rows the way
tools/parity.py does (benchlib.frame_digest).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_sql():
    with open(os.path.join(BENCH, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    out = subprocess.run(["java", "-cp", cp, "perfbench.Main", "--oracle-sql"],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def digests(sql_by_name, data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(sql_by_name.items()):
        d, n = benchlib.frame_digest(con.sql(sql).df())
        out[name] = {"digest": d, "rows": n}
    return out


def main():
    sql = oracle_sql()
    with open(os.path.join(HERE, "oracle_sql.json"), "w") as f:
        json.dump(sql, f, indent=1, sort_keys=True)
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(digests(sql, os.path.join(BENCH, "data")), f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
