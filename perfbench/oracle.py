"""DuckDB oracle gate for registered entries.

Each entry's Spark rows are compared with the rows of its registered
``oracle_sql()`` run by DuckDB over the same parquet files: same column
names, same row count, same rows after ``tests/oracle.py``'s
normalization. Expected results are cached on disk, keyed on the SQL
text plus the sha256 of every input file, because some oracles take
minutes.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb

from tests.oracle import _normalize as normalize


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class Oracle:
    """Expected results for one input directory, cached under ``cache_dir``."""

    def __init__(self, data_dir: str, cache_dir: str, threads: int):
        self.data_dir = data_dir
        self.digests = {
            os.path.basename(path)[: -len(".parquet")]: _sha256(path)
            for path in glob.glob(os.path.join(data_dir, "*.parquet"))
        }
        self.cache_dir = cache_dir
        self.threads = threads
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect(
                config={"threads": self.threads, "memory_limit": "1GB", "temp_directory": self.cache_dir}
            )
            for table in sorted(self.digests):
                path = os.path.join(self.data_dir, f"{table}.parquet")
                self._con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def expected(self, sql: str) -> dict:
        """``{"cols": [...], "rows": normalized rows}`` for ``sql``."""
        key = hashlib.sha256(
            json.dumps([sql, sorted(self.digests.items())]).encode()
        ).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        cur = self._connect().execute(sql)
        cols = [d[0] for d in cur.description]
        result = {"cols": cols, "rows": [list(r) for r in normalize(cur.fetchall(), cols)]}
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(result, f)
        os.replace(tmp, path)
        return result

    def check(self, cols: list[str], rows: list[tuple], sql: str, rows_only: bool = False) -> str | None:
        """None when the Spark result matches ``sql``'s, else why not.

        ``rows_only`` compares the row count alone (the registered
        check of sketch entries)."""
        exp = self.expected(sql)
        if len(rows) != len(exp["rows"]):
            return f"row count {len(rows)} != oracle {len(exp['rows'])}"
        if rows_only:
            return None
        if sorted(cols) != sorted(exp["cols"]):
            return f"columns {sorted(cols)} != oracle {sorted(exp['cols'])}"
        got = normalize(rows, cols)
        want = [tuple(r) for r in exp["rows"]]
        if got != want:
            expected = set(want)
            diff = [r for r in got if r not in expected][:3]
            return f"values differ, e.g. spark-only rows {diff}"
        return None

    def close(self):
        if self._con is not None:
            self._con.close()
            self._con = None
