"""Order-insensitive result digests and their DuckDB oracles.

A result is reduced to its row count and a digest: columns sorted by
lower-cased name, every cell rendered (``∅`` for NULL, ``NaN``, ``repr``
for floats, ``str`` otherwise), rows sorted, then hashed. Spark results
and DuckDB oracle results go through the same function, so equal digests
mean equal multisets of rows.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from perfbench.datagen import TABLES


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def digest(pdf) -> dict:
    """``{"rows": n, "digest": hex}`` of a pandas DataFrame."""
    cols = sorted(pdf.columns, key=str.lower)
    pdf = pdf[cols]
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(c.lower() for c in cols).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return {"rows": len(rows), "digest": h.hexdigest()}


def duck_connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def expected_digests(data_dir: str, sql: dict[str, str], cache_path: str) -> dict:
    """DuckDB digests of ``sql`` over ``data_dir``, computed once and
    cached in ``cache_path`` (keys missing from the cache are added)."""
    cached = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    missing = [k for k in sql if k not in cached]
    if missing:
        con = duck_connect(data_dir)
        for k in missing:
            cached[k] = digest(con.execute(sql[k]).df())
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=0, sort_keys=True)
        os.replace(tmp, cache_path)
    return {k: cached[k] for k in sql}
