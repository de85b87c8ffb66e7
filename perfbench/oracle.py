#!/usr/bin/env python3
"""Remakes perfbench/expected.json, the oracle results the checks compare
the `graft.SparkEntry` rows of every workload against.

    python3 perfbench/oracle.py        # from the repository root

Builds the tree (perfbench/build.py), reads each row's
`SparkEntry.oracleSql` from the JVM (graft.perfbench.OracleSql), runs it in
DuckDB over the tables in perfbench/data/sf0.1 and stores, per row, a hash
of the SQL with the result's sorted column names, row count and digest
(perfbench/check.py `summary`). Needs Python's `duckdb`; the benchmark runs
themselves do not. Run it when an oracle's SQL or the tables change: a run
whose oracle SQL has no result here fails its check.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402
import check  # noqa: E402
from run import ADD_OPENS, DATA_DIR, WORKLOADS  # noqa: E402


def main():
    import duckdb
    root = Path.cwd()
    classpath = f"{build.build(root)}:{build.spark_classpath(root)}"
    rows = [op for ops in WORKLOADS.values() for op in ops if op not in check.REF_CHECKS]
    out = subprocess.run(["java", *ADD_OPENS, "-cp", classpath, "graft.perfbench.OracleSql", *rows],
                         stdout=subprocess.PIPE, check=True, text=True).stdout
    oracle = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in sorted(DATA_DIR.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    expected = {}
    for op in rows:
        cur = con.execute(oracle[op])
        columns = [d[0] for d in cur.description]
        expected[op] = {"sql_sha256": check.sql_key(oracle[op]),
                        **check.summary(columns, cur.fetchall())}
        print(f"{op}: {expected[op]['rows']} rows", file=sys.stderr)
    con.close()
    check.EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    print(check.EXPECTED)


if __name__ == "__main__":
    main()
