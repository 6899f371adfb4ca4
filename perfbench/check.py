"""Output check: each query's Spark result against its DuckDB oracle.

Same comparison as the repository's correctness gate: row count, column
names, and an order-insensitive value hash whose cell normalisation is the
one in ``tools/check_oracle.py`` (copied, so the benchmark keeps its own
definition of "correct" while tools change).
"""

from __future__ import annotations

import hashlib
import os


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class OracleChecker:
    """DuckDB views over one fixture directory; compares query results."""

    def __init__(self, data_dir: str, tmp_dir: str, tables: list[str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute("SET threads=2")
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self.con.close()

    def compare(self, oracle_sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the result matches the oracle, else the difference."""
        res = self.con.execute(oracle_sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if len(rows) != len(orows):
            return f"rowcount spark={len(rows)} oracle={len(orows)}"
        if sorted(cols) != sorted(ocols):
            return f"columns spark={cols} oracle={ocols}"
        sh, oh = value_hash(rows, cols), value_hash(orows, ocols)
        if sh != oh:
            return f"value-hash spark={sh} oracle={oh}"
        return None
