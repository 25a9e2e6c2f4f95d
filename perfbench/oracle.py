"""DuckDB oracle answers for the query mix, in a process of their own so
that the oracle's memory never counts toward the system's.

    python3 perfbench/oracle.py DATA_DIR SQL_JSON OUT_JSON

``SQL_JSON`` maps a query name to its oracle SQL; writes
``{query: [rows, sorted columns, value hash]}`` to ``OUT_JSON``.
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    data_dir, sql_path, out_path = sys.argv[1:4]
    from kcore_spark.testing import duckdb_connection, value_hash

    with open(sql_path) as f:
        queries = json.load(f)
    con = duckdb_connection(data_dir)
    out = {}
    for name, sql in queries.items():
        df = con.sql(sql).df()
        out[name] = [len(df), sorted(df.columns), value_hash(df)]
    con.close()
    with open(out_path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
