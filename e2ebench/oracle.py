"""DuckDB oracle queries, evaluated in a short-lived child process.

    rows = oracle.evaluate({"d06": D06_SQL}, {"documents": "<dir of parquet files>"})

``evaluate`` runs this file as a child interpreter, sends it the
queries and tables on stdin, and reads back each query's column names
and rows. The child has exited by the time ``evaluate`` returns, so
DuckDB's CPU time and memory never count towards the benchmark
process, whose process tree is what the benchmark measures.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys


def evaluate(
    queries: dict[str, str], tables: dict[str, str]
) -> dict[str, tuple[list[str], list[tuple]]]:
    """Columns and rows of each SQL query on DuckDB, over views named
    after ``tables`` that read the parquet files in each directory."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        input=pickle.dumps((queries, tables)),
        capture_output=True,
    )
    if p.returncode != 0:
        raise RuntimeError(f"oracle child failed: {p.stderr.decode(errors='replace')[-2000:]}")
    return pickle.loads(p.stdout)


def _rows(sql: str, tables: dict[str, str]) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for table, path in tables.items():
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def main() -> None:
    queries, tables = pickle.load(sys.stdin.buffer)
    out = {key: _rows(sql, tables) for key, sql in queries.items()}
    sys.stdout.buffer.write(pickle.dumps(out))


if __name__ == "__main__":
    main()
