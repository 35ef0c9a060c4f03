"""Output check against each registry query's DuckDB oracle.

Compares row count, column names and an order-insensitive hash of the
values, normalised by ``tools/check_oracle.py``'s ``normalize`` (columns
sorted by name, floats by ``repr``, rows sorted), so the benchmark
accepts exactly the outputs the repository's oracle gate accepts.
"""

from __future__ import annotations

import hashlib
import os

from tools.check_oracle import normalize


def fingerprint(rows, cols) -> dict:
    """Row count, sorted column names and the value hash of one output."""
    h = hashlib.sha256()
    for line in normalize(rows, cols):
        h.update(line.encode())
        h.update(b"\x1e")
    return {"rows": len(rows), "cols": sorted(cols), "hash": h.hexdigest()}


def compare(got: dict, want: dict) -> list[str]:
    """Problems between two fingerprints; empty when they agree."""
    problems = []
    if got["rows"] != want["rows"]:
        problems.append(f"rowcount {got['rows']} != {want['rows']}")
    if got["cols"] != want["cols"]:
        problems.append(f"cols {got['cols']} != {want['cols']}")
    if not problems and got["hash"] != want["hash"]:
        problems.append("values differ")
    return problems


class Oracle:
    """DuckDB over the generated parquet tables."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.sql(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")

    def fingerprint(self, sql: str) -> dict:
        res = self.con.sql(sql)
        return fingerprint(res.fetchall(), [d[0] for d in res.description])

    def close(self) -> None:
        self.con.close()


def altered(rows: list[tuple], ncols: int) -> list[tuple]:
    """A deliberately wrong copy of an output, for the negative control.
    One value of the first row is replaced and the row count kept, so
    only the value hash can flag it; an empty output gets one row."""
    if not rows:
        return [(None,) * ncols]
    return [("<altered>",) + tuple(rows[0][1:])] + rows[1:]
