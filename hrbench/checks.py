"""Correctness checks: fixture pins, result digests and the oracle cache.

A query's answer is reduced to a digest of its ``check_oracle``
canonical form (columns by name, rows sorted, floats rounded) with
numbers normalized so that the digests of two answers are equal exactly
when ``check_oracle`` would call the answers equal (``1 == 1.0``,
``True == 1``). Expected digests come from the query's DuckDB oracle twin,
computed once per (fixture pins, SQL text) and cached in the work dir, or,
for the rows-only queries, from the digests pinned in ``pins.json`` under
their fixture's name.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")


class FixtureError(RuntimeError):
    pass


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def pins_hash(pinned: dict) -> str:
    """One hash naming a fixture by its pins (no file is read)."""
    return hashlib.sha256(json.dumps(pinned, sort_keys=True).encode()).hexdigest()


def check_fixture(sf_dir: str, pinned: dict) -> None:
    """Check every pinned table's parquet row count and content hash."""
    import pyarrow.parquet as pq

    for table, pin in sorted(pinned.items()):
        path = os.path.join(sf_dir, f"{table}.parquet")
        if not os.path.exists(path):
            raise FixtureError(f"missing fixture table {path}")
        rows = pq.ParquetFile(path).metadata.num_rows
        if rows != pin["rows"] or file_sha256(path) != pin["sha256"]:
            raise FixtureError(f"{path} differs from its pin ({rows} rows)")


def _normalize(v):
    """check_oracle's canonical value, with numbers compared as it compares
    them: 1.0 and True read as 1."""
    if type(v) is float:
        return int(v) if math.isfinite(v) and v.is_integer() else v
    if type(v) in (int, str) or v is None:
        return v
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, tuple):
        return tuple(_normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((repr(k), _normalize(x)) for k, x in v.items()))
    return v


def _check_oracle():
    root = os.path.dirname(HERE)
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check_oracle

    return check_oracle


def digest(cols, rows) -> str:
    """Order- and kind-insensitive digest of one query answer.

    Columns are ordered by name and values canonicalized as in
    ``check_oracle.canon_rows``; rows are sorted by their canonical repr.
    Changing this function invalidates the oracle cache in the work dir
    (delete it) and the rows-only digests in ``pins.json`` (recompute each
    as ``digest(df.columns, df.collect())`` of the query on its fixture).
    """
    canon = _check_oracle().canon_value
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(_normalize(canon(r[i])) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class ExpectedDigests:
    """Expected answer digests for one workload run.

    ``cache_path`` is a JSON file in the benchmark's work dir keyed by
    sha256(pins hash, SQL text); a miss runs the oracle SQL in DuckDB, so
    only the first run in a checkout pays it. New digests are written out
    by ``save``, which the caller calls once the fixture check passed.
    """

    def __init__(self, cache_path: str):
        self.cache_path = cache_path
        self.computed = 0
        try:
            with open(cache_path) as f:
                self.cache = json.load(f)
        except FileNotFoundError:
            self.cache = {}

    def resolve(
        self, names: list[str], oracles: dict, sf_dir: str, fx_hash: str,
        rows_only: dict,
    ) -> dict[str, str | None]:
        out: dict[str, str | None] = {}
        con = None
        for name in names:
            if name not in oracles:
                out[name] = rows_only.get(name)
                continue
            key = hashlib.sha256(f"{fx_hash}\n{oracles[name]}".encode()).hexdigest()
            if key not in self.cache:
                if con is None:
                    con = _duck(sf_dir)
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                self.cache[key] = digest(cols, res.fetchall())
                self.computed += 1
            out[name] = self.cache[key]
        if con is not None:
            con.close()
        return out

    def save(self) -> None:
        if not self.computed:
            return
        tmp = f"{self.cache_path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.cache, f, sort_keys=True)
        os.replace(tmp, self.cache_path)


def _duck(sf_dir: str):
    import duckdb

    from hive_reflex_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con
