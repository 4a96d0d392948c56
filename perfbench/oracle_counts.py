#!/usr/bin/env python3
"""Row counts of the registry's oracle SQL, computed by DuckDB.

Usage: python3 perfbench/oracle_counts.py <dataDir> <sqlJson> <outJson>

<sqlJson> maps query name -> oracle SQL (the SQL `tools/check.py` runs);
<outJson> receives query name -> row count. Each table of <dataDir> is
registered as a view first, exactly as `tools/check.py` does.
"""
import json
import os
import sys

import duckdb


def main():
    data, sql_json, out_json = sys.argv[1:4]
    con = duckdb.connect()
    con.sql("SET threads=2")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    queries = json.load(open(sql_json))
    rows = {name: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for name, sql in sorted(queries.items())}
    with open(out_json, "w") as f:
        json.dump(rows, f)


if __name__ == "__main__":
    main()
