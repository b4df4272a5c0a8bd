#!/usr/bin/env python3
"""Seeded input generator for the churn benchmark.

Derives the ten testdata tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings; one parquet file
each) from the base corpus in `base/`, a copy of the repository's sf0.01
testdata tier (TESTDATA.md), by a seed-keyed bootstrap over whole
entities with key-disjoint replication, the growth model of
graft.ScaleUp:

  - customers are drawn with replacement, each with its whole history:
    its orders, their lineitems and its events. The r-th draw of one
    customer lives in key universe r: every primary and foreign key is
    offset by r * (max(key) + 1), as copy r of graft.ScaleUp, so join
    fan-out and per-customer densities are those of the base;
  - documents and embeddings are drawn with replacement the same way.
    The r-th draw of a document gets the vocabulary salt "~rrr" on every
    token (n_chars follows the salted text) and the r-th draw of a
    vector is cyclically shifted by 7r dimensions, as in graft.ScaleUp,
    so a redraw adds no near-duplicate pair the base does not have;
  - region, nation, supplier and part are the catalogue and stay as in
    the base; lineitem keeps its part and supplier keys.

Every table keeps the base's schema, types included, and its row count
in expectation. The same seed gives byte-identical files: every draw
comes from one numpy PCG64 stream in a fixed order, rows are sorted by
key, and pyarrow writes no timestamp or host data into the files.

Usage: gen.py <outDir> <seed>
"""
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
CATALOGUE = ["region", "nation", "supplier", "part"]
TOKEN = re.compile(r"(\S+)")


def load(name):
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def np_col(table, name):
    return table.column(name).to_numpy()


def stride(table, key):
    return int(np_col(table, key).max()) + 1


def draws(rng, n):
    """Bootstrap of n rows: how often each row is drawn."""
    return np.bincount(rng.integers(0, n, n), minlength=n)


def replicate(counts):
    """Row i repeated counts[i] times: (row index, copy number r)."""
    rows = np.repeat(np.arange(len(counts)), counts)
    first = np.repeat(np.cumsum(counts) - counts, counts)
    return rows, np.arange(len(rows)) - first


def shifted(table, rows, r, offsets, replace=None):
    """`table.take(rows)` with each key column in `offsets` moved to key
    universe r, other columns replaced from `replace`, sorted by the
    first key column."""
    out = table.take(pa.array(rows))
    cols = dict(replace or {})
    for name, step in offsets.items():
        cols[name] = np_col(out, name) + r * step
    for name, values in cols.items():
        i = out.schema.get_field_index(name)
        out = out.set_column(i, out.schema.field(i),
                             pa.array(values, out.schema.field(i).type))
    return out.take(pc.sort_indices(out, [(next(iter(offsets)), "ascending")]))


def owned(owner_keys, keys, counts):
    """Rows owned by the entity with key owner_keys[i], one copy per draw
    of that entity: (row index, copy number r)."""
    pos = np.searchsorted(keys, owner_keys)
    assert (keys[pos] == owner_keys).all(), "owner key missing from the base"
    return replicate(counts[pos])


def tables(seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    out = {name: load(name) for name in CATALOGUE}

    customer, orders = load("customer"), load("orders")
    lineitem, events = load("lineitem"), load("events")
    cS, oS, eS = (stride(customer, "c_custkey"), stride(orders, "o_orderkey"),
                  stride(events, "event_id"))
    ckeys = np_col(customer, "c_custkey")
    assert (np.diff(ckeys) > 0).all(), "customer keys must be sorted"
    ccount = draws(rng, len(ckeys))
    rows, r = replicate(ccount)
    out["customer"] = shifted(customer, rows, r, {"c_custkey": cS})

    rows, r = owned(np_col(orders, "o_custkey"), ckeys, ccount)
    out["orders"] = shifted(orders, rows, r, {"o_orderkey": oS, "o_custkey": cS})

    # A lineitem belongs to the customer of its order.
    okeys = np_col(orders, "o_orderkey")
    order_sort = np.argsort(okeys)
    opos = order_sort[np.searchsorted(okeys, np_col(lineitem, "l_orderkey"),
                                      sorter=order_sort)]
    rows, r = owned(np_col(orders, "o_custkey")[opos], ckeys, ccount)
    out["lineitem"] = shifted(lineitem, rows, r, {"l_orderkey": oS})

    rows, r = owned(np_col(events, "user_id"), ckeys, ccount)
    out["events"] = shifted(events, rows, r, {"event_id": eS, "user_id": cS})

    docs = load("documents")
    rows, r = replicate(draws(rng, docs.num_rows))
    texts = docs.column("text").to_pylist()
    salted = [texts[i] if k == 0 else TOKEN.sub(rf"\g<1>~{k}{k}{k}", texts[i])
              for i, k in zip(rows, r)]
    out["documents"] = shifted(
        docs, rows, r, {"doc_id": stride(docs, "doc_id")},
        {"text": salted, "n_chars": [len(t) for t in salted]})

    emb = load("embeddings")
    rows, r = replicate(draws(rng, emb.num_rows))
    vecs = emb.column("embedding").to_pylist()
    moved = [vecs[i][(7 * k) % len(vecs[i]):] + vecs[i][:(7 * k) % len(vecs[i])]
             for i, k in zip(rows, r)]
    out["embeddings"] = shifted(emb, rows, r, {"vec_id": stride(emb, "vec_id")},
                                {"embedding": moved})
    return out


def main(out_dir, seed):
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(int(seed)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy")
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(*sys.argv[1:])
