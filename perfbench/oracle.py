#!/usr/bin/env python3
"""Expected row counts for registered queries, from DuckDB.

Usage: python3 oracle.py <fixtureDir> <sqlJson>

<fixtureDir> holds one `<table>.parquet` file per fixture table;
<sqlJson> maps query names to their registered oracle SQL. Prints one JSON
object mapping each query name to the number of rows DuckDB returns.
"""
import json
import os
import sys

import duckdb


def main(fixture_dir, sql_json):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for entry in sorted(os.listdir(fixture_dir)):
        if entry.endswith(".parquet"):
            table = entry[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{fixture_dir}/{entry}')")
    with open(sql_json) as f:
        queries = json.load(f)
    counts = {name: len(con.execute(sql).fetchall())
              for name, sql in sorted(queries.items())}
    print(json.dumps(counts))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
