#!/usr/bin/env python3
"""Fills catalog.tsv's expected row counts from the DuckDB oracle SQL.

    python3 perfbench/tools/expected_rows.py

For each query named in perfbench/catalog.tsv it takes the oracle SQL the
engine declares (SparkEntry.oracleSql), runs it in DuckDB over the same
parquet fixture and writes the row count into the second column. Run it
after perfbench/run.py has built the classpath. DuckDB spills into
perfbench/work/duckdb, never into the working directory.
"""
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CATALOG = os.path.join(HERE, "catalog.tsv")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    lines = open(CATALOG).read().splitlines()
    names = [l.split("\t")[0] for l in lines if l.strip() and not l.startswith("#")]
    work = os.path.join(HERE, "work", "duckdb")
    os.makedirs(work, exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    classpath = open(os.path.join(HERE, ".build", "classpath.txt")).read().strip()
    subprocess.run(["java", "-cp", classpath, "graftbench.OracleSql", sql_file] + names,
                   check=True)
    oracle = json.load(open(sql_file))
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/{t}.parquet'")
    counts = {q: len(con.execute(oracle[q]).fetchall()) for q in names}
    out = []
    for l in lines:
        if l.strip() and not l.startswith("#"):
            q = l.split("\t")[0]
            l = f"{q}\t{counts[q]}"
        out.append(l)
    open(CATALOG, "w").write("\n".join(out) + "\n")
    for q in names:
        print(f"{q}\t{counts[q]}")


if __name__ == "__main__":
    sys.exit(main())
