"""Reference checks: order-insensitive row hashes compared against DuckDB.

``row_hash`` normalizes values the way the repo's oracle comparisons do
(NULL, booleans as 0/1, floats to 6 decimals, everything else ``str``),
sorts the rendered rows and hashes them, so a Spark result and a DuckDB
result hash equal exactly when they hold the same multiset of rows.
``corrupt`` flips one value of a row list: the self-test passes its output
through it to show that a wrong answer turns ``correct`` to false.
"""

from __future__ import annotations

import hashlib

import duckdb


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NULL" if v != v else f"{v:.6f}"
    return str(v)


def row_hash(cols: list[str], rows: list[dict]) -> str:
    cols = sorted(cols)
    body = sorted(",".join(_norm(r[c]) for c in cols) for r in rows)
    return hashlib.sha256("\n".join(body).encode()).hexdigest()[:16]


def spark_rows(df) -> tuple[list[str], list[dict]]:
    return df.columns, [r.asDict() for r in df.collect()]


def corrupt(rows: list[dict]) -> list[dict]:
    """The same rows with one value changed (or one row added if empty)."""
    if not rows:
        return [{"__corrupt__": 1}]
    bad = dict(rows[0])
    key = sorted(bad)[0]
    bad[key] = f"{bad[key]}~"
    return [bad, *rows[1:]]


class Duck:
    """A DuckDB connection with one view per parquet table of a directory."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def rows(self, sql: str) -> tuple[list[str], list[dict]]:
        rel = self.con.execute(sql)
        cols = [d[0] for d in rel.description]
        return cols, [dict(zip(cols, t)) for t in rel.fetchall()]

    def close(self) -> None:
        self.con.close()
