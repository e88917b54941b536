"""Oracle answers for the query workloads, cached by input fingerprint.

Each query's DuckDB oracle (``registry.Query.oracle``) runs over the same
parquet the engine reads; the answer is reduced to the value hash of
``tools/check_oracle.driver_canon``'s canonical rows plus its row count
and column names. Oracles can be slow (MinHash clustering takes minutes
at scale), so answers are cached under a key made of the fixture's
fingerprint digest and the SQL text: rewriting any fixture file or
editing the SQL misses the cache.
"""

from __future__ import annotations

import hashlib
import json
import os


def answer_of(pdf, canon, value_hash) -> dict:
    return {
        "hash": value_hash(canon(pdf)),
        "rows": int(len(pdf)),
        "cols": sorted(str(c) for c in pdf.columns),
    }


class OracleCache:
    """``compute(sql) -> pandas.DataFrame`` answers a miss."""

    def __init__(self, path: str, digest: str, compute, canon, value_hash) -> None:
        self.path = path
        self.digest = digest
        self.compute = compute
        self.canon = canon
        self.value_hash = value_hash
        self._data = {}
        if os.path.exists(path):
            with open(path) as f:
                self._data = json.load(f)

    def key(self, sql: str) -> str:
        return hashlib.sha256(f"{self.digest}\n{sql}".encode()).hexdigest()[:24]

    def get(self, sql: str) -> dict:
        k = self.key(sql)
        if k not in self._data:
            self._data[k] = answer_of(self.compute(sql), self.canon, self.value_hash)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._data, f, sort_keys=True)
            os.replace(tmp, self.path)
        return self._data[k]


def duckdb_compute(fixture_dir: str, tables):
    """A ``compute`` over DuckDB views of every table in ``fixture_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
        )
    return lambda sql: con.execute(sql).df()
