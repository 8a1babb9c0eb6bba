"""Output check for the query workloads: each query's canonical rows
(``testing.canonical_rows``) against its DuckDB twin.

The DuckDB side is cached as a digest per (query, oracle SQL, size and mtime
of every parquet file) in an ignored JSON file, because some oracles are slow
(``neardup_edit_verify``'s took 24.5 s at sf0.1) and every run needs them.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark_retention_pipeline_spark.tables import TABLES
from pyspark_retention_pipeline_spark.testing import canonical_rows, duckdb_connection


def digest(pdf) -> str:
    """Row count, sorted column names and a hash of the canonical rows."""
    h = hashlib.sha256(json.dumps(sorted(pdf.columns)).encode())
    for row in canonical_rows(pdf):
        h.update(json.dumps(row, ensure_ascii=False).encode())
    return f"{len(pdf)}:{h.hexdigest()}"


class OracleDigests:
    """Expected digests from DuckDB, computed once per key and kept on disk."""

    def __init__(self, cache_path: str, sf_dir: str, oracle_sql: dict[str, str]):
        self.cache_path = cache_path
        self.sf_dir = sf_dir
        self.oracle_sql = oracle_sql
        self._con = None
        stats = []
        for name in TABLES:
            st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
            stats.append((name, st.st_size, st.st_mtime_ns))
        self._data_key = json.dumps(stats)
        try:
            with open(cache_path) as f:
                self._cache = json.load(f)
        except (OSError, ValueError):
            self._cache = {}

    def expected(self, name: str) -> str:
        sql = self.oracle_sql[name]
        key = hashlib.sha256(f"{name}\0{sql}\0{self._data_key}".encode()).hexdigest()
        if key not in self._cache:
            if self._con is None:
                self._con = duckdb_connection(self.sf_dir)
            self._cache[key] = digest(self._con.execute(sql).df())
            self._save()
        return self._cache[key]

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
        tmp = f"{self.cache_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(self._cache, f, indent=0, sort_keys=True)
        os.replace(tmp, self.cache_path)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
