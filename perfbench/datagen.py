"""Deterministic benchmark inputs.

Base tables follow the ten-table layout the registry queries read
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each, same column names and types). They
are generated from a fixed seed at a given scale factor, once per
checkout. The ``--seed`` of a run only derives per-run inputs from them:
the CSV split of ``etl_csv`` and the inflated corpus of ``dedup_scale``.
The program under test sees nothing but the written files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_SEED = 20240101

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "es", "de", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window order data column join small line customer query big "
    "sort stream group filter vector"
).split()

_DAY_US = 86_400 * 1_000_000


def _days(rng, n, start, end):
    """``n`` midnight timestamps (µs) uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate_base(out_dir: str, sf: float, seed: int = BASE_SEED) -> None:
    """Write the ten tables at scale factor ``sf`` (lineitem = 6M × sf,
    at least 500 documents and embeddings)."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }))
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, n_line, "1995-01-02", "2001-11-04")),
    }))
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    texts: list[str] = []
    vocab = np.array(_VOCAB)
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(10, 100)))]))
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.02, (10, 64))
    vecs = rng.normal(0.0, 0.125, (n_vecs, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }))


def once(path: str, make) -> str:
    """Run ``make(path)`` into an empty ``path`` unless an earlier run
    completed it (a ``.done`` marker is written last)."""
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        make(path)
        open(os.path.join(path, ".done"), "w").close()
    return path


def ensure_base(out_dir: str, sf: float) -> str:
    """The base tables at ``out_dir``, generated on first use."""
    return once(out_dir, lambda d: generate_base(d, sf))


def write_csv_split(src_dir: str, out_dir: str, seed: int, n_files: int) -> dict:
    """``lineitem`` and ``orders`` as headered CSV in seeded row order,
    each split over ``n_files`` files. Returns input rows and bytes."""
    rng = np.random.default_rng([BASE_SEED, seed])
    info = {"rows": 0, "bytes": 0}
    for name in ("lineitem", "orders"):
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        for i, idx in enumerate(np.array_split(np.arange(table.num_rows), n_files)):
            path = os.path.join(d, f"part-{i:03d}.csv")
            pacsv.write_csv(table.slice(int(idx[0]), len(idx)), path)
            info["bytes"] += os.path.getsize(path)
        info["rows"] += table.num_rows
    return info


def write_inflated_corpus(src_dir: str, out_dir: str, seed: int, factor: int) -> None:
    """``documents``/``embeddings`` inflated ``factor``×, other tables copied.

    Replica ``i`` offsets its ids by ``i`` × (max id + 1) and suffixes
    every word of its documents with ``_i``, so the replicas are mutually
    dissimilar and the near-duplicate pair graph is ``factor`` disjoint
    copies of the original's. The seed sets the row order only, so the
    expected results do not depend on it.
    """
    rng = np.random.default_rng([BASE_SEED, seed, factor])
    docs = pq.read_table(os.path.join(src_dir, "documents.parquet")).to_pandas()
    step = int(docs.doc_id.max()) + 1
    parts = [docs]
    for i in range(1, factor):
        rep = docs.copy()
        rep["doc_id"] = rep.doc_id + i * step
        sfx = f"_{i}"
        rep["text"] = [" ".join(w + sfx for w in t.split(" ")) for t in rep.text]
        rep["n_chars"] = rep.text.str.len().astype(np.int64)
        parts.append(rep)
    out = _concat_shuffled(parts, rng)
    _write(out_dir, "documents", pa.Table.from_pandas(out, preserve_index=False))
    emb = pq.read_table(os.path.join(src_dir, "embeddings.parquet")).to_pandas()
    vstep = int(emb.vec_id.max()) + 1
    eparts = [emb.assign(vec_id=emb.vec_id + i * vstep) for i in range(factor)]
    eout = _concat_shuffled(eparts, rng)
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    _write(out_dir, "embeddings",
           pa.Table.from_pandas(eout, schema=schema, preserve_index=False))
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(src_dir, f"{name}.parquet"), dst)


def _concat_shuffled(parts, rng):
    import pandas as pd

    out = pd.concat(parts, ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)
