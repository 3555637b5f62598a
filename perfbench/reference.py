"""Independent reference computations in DuckDB, and the comparison of
a written output with its reference."""

from __future__ import annotations

import glob
import os


def connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def materialize(con, queries: dict, prefix: str) -> dict:
    """Run each reference query once; returns name -> table name."""
    out = {}
    for name, sql in queries.items():
        table = f"{prefix}_{name}"
        con.execute(f"CREATE OR REPLACE TABLE {table} AS {sql}")
        out[name] = table
    return out


def mismatch(con, ref_table: str, out_path: str) -> int:
    """Rows in the reference or the output but not in both, as
    multisets; an output that is missing counts as every reference row
    missing."""
    cols = [r[0] for r in con.execute(f"DESCRIBE {ref_table}").fetchall()]
    files = glob.glob(os.path.join(out_path, "**", "*.parquet"), recursive=True)
    if not files:
        return con.execute(f"SELECT COUNT(*) FROM {ref_table}").fetchone()[0] or 1
    sel = ", ".join(cols)
    out = f"(SELECT {sel} FROM read_parquet({files!r}))"
    return con.execute(
        f"SELECT (SELECT COUNT(*) FROM ((SELECT {sel} FROM {ref_table}) EXCEPT ALL {out})) + "
        f"(SELECT COUNT(*) FROM ({out} EXCEPT ALL (SELECT {sel} FROM {ref_table})))"
    ).fetchone()[0]
