"""Independent output checks in DuckDB.

The engine under test is Spark; every expected answer here is computed
by DuckDB (or numpy) straight from the generated input files, never from
anything the engine wrote, except the output being checked.
"""

from __future__ import annotations

import glob
import os

import duckdb


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def files_sql(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def column_types(con, relation_sql: str) -> dict[str, str]:
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {relation_sql}").fetchall()}


def output_sql(path: str, fmt: str, types: dict[str, str]) -> str:
    """A SELECT over an engine export, cast to the reference types.
    ``types`` lists the exported columns in order."""
    casts = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t in types.items())
    if fmt == "parquet":
        src = f"read_parquet('{path}/*.parquet')"
    else:
        files = sorted(glob.glob(os.path.join(path, "*.csv")))
        cols = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in types) + "}"
        src = (
            f"read_csv({files_sql(files)}, header = true, quote = '\"', "
            f"escape = '\"', nullstr = '\\N', auto_detect = false, columns = {cols})"
        )
    return f"(SELECT {casts} FROM {src})"


def multiset_diff(con, a_sql: str, b_sql: str) -> int:
    """Rows in a but not b plus rows in b but not a, with multiplicity."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM {a_sql} EXCEPT ALL "
        f"SELECT * FROM {b_sql})) + (SELECT count(*) FROM (SELECT * FROM "
        f"{b_sql} EXCEPT ALL SELECT * FROM {a_sql}))"
    ).fetchone()[0]


def count(con, sql: str) -> int:
    return con.execute(f"SELECT count(*) FROM {sql}").fetchone()[0]


def parquet_size(con, sql: str, path: str) -> int:
    """Bytes of ``sql``'s rows written as one snappy Parquet file."""
    con.execute(f"COPY (SELECT * FROM {sql}) TO '{path}' (FORMAT parquet, COMPRESSION snappy)")
    size = os.path.getsize(path)
    os.remove(path)
    return size
