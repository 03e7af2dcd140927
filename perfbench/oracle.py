"""Result checking: every timed result is compared, outside the timed
region, with the key's ``oracle_sql()`` run by DuckDB over the same
input file.

Rows are compared order-insensitively with the canonicalisation of the
repository's correctness tests (``tests/test_correctness.py``), plus
the numeric dtype kind and width those tests also pin, so a result
passes here exactly when it passes there.
"""

from __future__ import annotations

import hashlib

import duckdb

from tests.test_correctness import _rows


def digest(pdf) -> str:
    """Order-insensitive fingerprint of a pandas frame: column names,
    numeric dtype kind/width, and the sorted canonical rows."""
    kinds = []
    for c in sorted(pdf.columns):
        dt = pdf[c].dtype
        kinds.append(f"{c}:{dt.kind}{dt.itemsize}" if dt.kind in "iuf" else c)
    rows = _rows(pdf)
    h = hashlib.sha256(repr(kinds).encode())
    for r in rows:
        h.update(repr(r).encode())
    return f"{len(rows)}:{h.hexdigest()}"


class Oracle:
    """DuckDB views named like the library's tables, over parquet files."""

    def __init__(self, tables: dict[str, str], threads: int):
        self.con = duckdb.connect()
        self.con.sql(f"SET threads = {int(threads)}")
        for name, path in tables.items():
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def digests(self, sql_by_key: dict[str, str]) -> dict[str, str]:
        return {k: digest(self.con.sql(sql).df()) for k, sql in sql_by_key.items()}

    def close(self) -> None:
        self.con.close()
