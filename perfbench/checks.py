"""Output checks against the workload's DuckDB oracles.

A query's result passes when its column names, row count and
order-insensitive value hash equal those of ``workload.oracle_sql()``
run in DuckDB on the same parquet files. Cells are canonicalised the way
the project's correctness gate does it (floats to 6 significant digits,
timestamps to ISO text, rows sorted).

Oracle answers depend only on the oracle text and the fixture, so they
are cached on disk under the fixture's directory, keyed by a hash of the
SQL; a changed oracle is simply a cache miss.
"""

from __future__ import annotations

import datetime
import hashlib
import inspect
import json
import math
from pathlib import Path

from datagen import TABLES


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def result_digest(rows, cols: list[str]) -> dict:
    """Row count, sorted column names and a hash of the canonical rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)
    return {
        "rows": len(canon),
        "cols": sorted(cols),
        "hash": hashlib.sha256(repr(canon).encode()).hexdigest(),
    }


def _oracle_sql(wq, data_dir: str) -> str | None:
    """Oracle text for one registry entry. A lazily built oracle that
    reads the data itself is pointed at the benchmark's fixture."""
    oracle = wq.oracle
    if oracle is None or isinstance(oracle, str):
        return oracle
    if "sf_dir" in inspect.signature(oracle).parameters:
        return oracle(sf_dir=data_dir)
    return oracle()


class OracleCache:
    def __init__(self, data_dir: Path) -> None:
        self.data_dir = data_dir
        self.cache_dir = data_dir / "_oracle"
        self._con = None

    def _duckdb(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute("SET threads TO 4")
            for name in TABLES:
                self._con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{name}.parquet')"
                )
        return self._con

    def digest(self, wq) -> dict | None:
        """The oracle's digest for one registry entry, or None when the
        entry has no oracle (its check is then rows-only)."""
        sql = _oracle_sql(wq, str(self.data_dir))
        if sql is None:
            return None
        path = self.cache_dir / f"{hashlib.sha256(sql.encode()).hexdigest()[:24]}.json"
        if path.exists():
            return json.loads(path.read_text())
        res = self._duckdb().execute(sql)
        cols = [d[0] for d in res.description]
        digest = result_digest(res.fetchall(), cols)
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(digest))
        tmp.replace(path)
        return digest

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare(name: str, got: dict, want: dict | None) -> str | None:
    """None when ``got`` matches the oracle, else a one-line reason."""
    if want is None:
        return None
    if got["cols"] != want["cols"]:
        return f"{name}: columns spark={got['cols']} oracle={want['cols']}"
    if got["rows"] != want["rows"]:
        return f"{name}: rowcount spark={got['rows']} oracle={want['rows']}"
    if got["hash"] != want["hash"]:
        return f"{name}: value hash mismatch over {got['rows']} rows"
    return None
