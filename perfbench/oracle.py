"""DuckDB oracle check with the registry's order-insensitive value hash.

A Spark result matches its oracle when the row count, the sorted column
names and the hash of the sorted canonical rows all agree -- the contract
``vunnel_spark.registry`` states, compared by ``tests/_compare.py``.
"""

from __future__ import annotations

import glob
import os

from tests._compare import value_hash


class Oracle:
    """DuckDB views over the input tables; ``mismatch`` compares one result."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            table = os.path.basename(path)[: -len(".parquet")]
            self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self.con.close()

    def mismatch(self, sql: str, cols: list[str], rows: list) -> str | None:
        """None when the result matches the oracle, else what differs."""
        res = self.con.execute(sql)
        ocols = [d[0].lower() for d in res.description]
        orows = res.fetchall()
        scols = [c.lower() for c in cols]
        if len(rows) != len(orows):
            return f"row count {len(rows)} != oracle {len(orows)}"
        if sorted(scols) != sorted(ocols):
            return f"columns {sorted(scols)} != oracle {sorted(ocols)}"
        sh, oh = value_hash(scols, rows), value_hash(ocols, orows)
        if sh != oh:
            return f"value hash {sh} != oracle {oh}"
        return None
