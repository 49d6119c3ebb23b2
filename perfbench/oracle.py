"""DuckDB oracle: row count plus an order-insensitive value hash.

Expected results are computed in DuckDB from the same Arrow tables the
program was given; actual results are read back by DuckDB from the
files the program wrote. Both sides go through one canonical
projection per table shape, so a (count, hash) pair equal on both
sides means the same multiset of rows.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa

# canonical projections: every column cast to one type, timestamps as
# epoch milliseconds, JSON text minified
CANON = {
    "bulk": "id::BIGINT, qty::BIGINT, price::DOUBLE, name::VARCHAR, "
    "epoch_ms(ts::TIMESTAMPTZ), json(attrs)::VARCHAR",
    "orders": "order_id::BIGINT, customer::VARCHAR, status::VARCHAR, qty::BIGINT, "
    "price::DOUBLE, total::DOUBLE, big::BOOLEAN",
    "keyed": "id::BIGINT, seq::BIGINT, val::DOUBLE, name::VARCHAR, epoch_ms(ts::TIMESTAMPTZ)",
    "quarantine": "id::BIGINT, err::VARCHAR",
    "joined": "order_id::BIGINT, cust_id::BIGINT, amount::DOUBLE, region::VARCHAR, "
    "cust_key::VARCHAR, name::VARCHAR, tier::BIGINT, seq::BIGINT",
}


class Oracle:
    """One DuckDB connection; Arrow inputs are registered by name."""

    def __init__(self, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")

    def close(self) -> None:
        self.con.close()

    def register(self, name: str, table: pa.Table) -> None:
        self.con.register(name, table)

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def digest(self, shape: str, relation: str) -> tuple[int, int]:
        """(row count, hash sum) of ``relation`` under ``shape``'s
        canonical projection."""
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash({CANON[shape]})), 0) FROM ({relation})"
        ).fetchone()
        return int(n), int(h)

    def materialize(self, name: str, relation: str) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS {relation}")


def files(path: str, ext: str) -> str:
    """DuckDB list literal of the data files of a Spark output path
    (part files only; ``_SUCCESS`` and checksums are skipped)."""
    found = sorted(glob.glob(os.path.join(glob.escape(path), f"*{ext}")))
    if not found:
        raise FileNotFoundError(f"no *{ext} data files under {path}")
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in found) + "]"


def read_parquet(path: str) -> str:
    return f"SELECT * FROM read_parquet({files(path, '.parquet')})"


def read_jsonl(path: str, columns: dict[str, str]) -> str:
    cols = "{" + ", ".join(f"{k}: '{v}'" for k, v in columns.items()) + "}"
    return (
        f"SELECT * FROM read_json({files(path, '.json')}, "
        f"format = 'newline_delimited', columns = {cols})"
    )


def read_csv(path: str) -> str:
    """All columns as text, named by the header (Spark writes one header
    per part file and escapes quotes with a backslash)."""
    return (
        f"SELECT * FROM read_csv({files(path, '.csv')}, header = true, "
        f"quote = '\"', escape = '\\', all_varchar = true)"
    )
