"""DuckDB oracles for the engine's registry queries.

A result is compared the way the repository's oracle gate compares
results: ``tools/oracle_check.py``, loaded as is, hashes both tables.
"""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location("oracle_check", os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools",
    "oracle_check.py"))
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)


def differs(sql: str, tables: dict[str, str], cols, rows) -> bool:
    """Whether ``(cols, rows)`` differs from what DuckDB returns for
    ``sql`` over ``tables`` ({view name: parquet path or glob})."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    finally:
        con.close()
    table_hash = oracle_check.table_hash
    return (sorted(cols) != sorted(dcols)
            or table_hash(cols, rows) != table_hash(dcols, drows))
