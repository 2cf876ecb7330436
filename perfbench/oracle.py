#!/usr/bin/env python3
"""Regenerate perfbench/golden.tsv: the DuckDB-oracle digests of the
`analytics` queries over the generated sf0.1 tables.

Run after changing gen_data.py, the analytics list, or a query's oracle
SQL. It builds the program, asks it for the oracle SQL (`OracleSql sql`),
runs each statement in DuckDB and writes its result to Parquet. The JVM
then reads the results back and digests them with the benchmark's own
canonical form (`OracleSql digest`, `Canon.scala`), so the golden digests
and the benchmark's checks share one implementation. One line per query:
name, rows, columns, digest.

Usage: python3 perfbench/oracle.py
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    jar, jsa = build.build()
    work = os.path.join(build.BUILD, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    def jvm(*args):
        cmd = build.java(jar, f"-XX:SharedArchiveFile={jsa}", work, "graftbench.OracleSql", list(args))
        return subprocess.run(cmd, cwd=work, check=True, capture_output=True, text=True).stdout

    try:
        sql = json.loads(jvm("sql").strip().splitlines()[-1])
        data = build.tables(run.SF)
        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        results = os.path.join(work, "results")
        os.makedirs(results)
        for name, q in sql.items():
            con.execute(f"COPY ({q}) TO '{results}/{name}.parquet' (FORMAT PARQUET)")
        lines = [l for l in jvm("digest", results).splitlines() if l.count("\t") == 3]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = ["# name\trows\tcolumns\tdigest (perfbench/oracle.py; DuckDB over gen_data.py sf" + run.SF + ")"]
    for line in lines:
        name, rows = line.split("\t")[:2]
        out.append(line)
        print(f"{name:24s} rows={rows}")
    with open(os.path.join(HERE, "golden.tsv"), "w") as fh:
        fh.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
