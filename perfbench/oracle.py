"""Untimed correctness check: each query's result against the DuckDB oracle.

A query's result (the parquet the runner dumps outside the timed passes)
must equal its `SparkEntry.oracleSql` run in DuckDB over the same inputs,
compared with the engine's correctness-gate canonicalisation
(`tools/localcheck.py` `canon`): columns sorted by name, values rendered
canonically, rows as a multiset.

Oracle answers are cached per (input fingerprint, SQL hash) under the
benchmark's work directory: a pass over every oracle SQL takes minutes, and
every seed shares the same input multiset.
"""
import hashlib
import json
import os
import sys

from inputs import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from localcheck import canon  # noqa: E402


def digest(rows):
    """(row count, sha256 of the canonical rows): what the cache keeps."""
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


class Oracle:
    """DuckDB over one input directory, with answers cached on disk."""

    def __init__(self, data_dir, fingerprint, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = os.path.join(cache_dir, fingerprint)
        self._con = None

    def _connect(self):
        import duckdb
        con = duckdb.connect()
        con.sql(f"SET temp_directory = '{os.path.join(self.cache_dir, 'tmp')}'")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return con

    def answer(self, sql):
        """The oracle's digest for `sql`, from the cache when present."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self._con is None:
            self._con = self._connect()
        ans = digest(canon(self._con.sql(sql).df()))
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(ans, f)
        os.replace(path + ".tmp", path)
        return ans


def check(results_dir, dump_errors, oracle_sql, oracle):
    """Per query: None when its result equals the oracle's, else why not."""
    import pandas as pd
    verdicts = {}
    for name, err in sorted(dump_errors.items()):
        if err:
            verdicts[name] = f"error: {err}"
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            verdicts[name] = "no oracle SQL"
            continue
        got = digest(canon(pd.read_parquet(os.path.join(results_dir, name))))
        try:
            exp = oracle.answer(sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[name] = f"oracle error: {e}"
            continue
        verdicts[name] = None if got == exp else (
            f"result differs from oracle: {got['rows']} rows vs {exp['rows']}")
    return verdicts
