"""Derive the benchmark's committed base tables from a TPC-H-style
directory (``sf0.1`` of the project's test data).

The benchmark reads nothing outside its checkout, so the rows it works
on are committed under ``perfbench/data``. This script is how they were
made; rerun it only to change the base, then rerun ``record.py``:

    python3 perfbench/make_base.py <sf0.1 dir>

Two bases come out:

* ``data/gbt/lineitem.parquet`` -- the GBT input: the flagship feature
  and label columns of every lineitem row whose order falls in a fixed
  hash fifth (about 120k rows).
* ``data/query/*.parquet`` -- a referentially intact subsample for the
  query mix: orders (and their lineitems) in a fixed hash 1/50,
  events of a fixed tenth of users, a fifth of documents and
  embeddings, and the dimension tables whole.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pb.inputs import hash_bucket  # noqa: E402

GBT_COLUMNS = [
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_discount",
    "l_tax",
    "l_extendedprice",
    "l_returnflag",
]


def _keep(table, column: str, salt: int, modulus: int):
    keys = table.column(column).to_numpy()
    return table.filter(hash_bucket(keys, salt, modulus) == 0)


def _write(table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table.replace_schema_metadata(None), path, compression="zstd")
    print(f"{path}: {table.num_rows} rows, {os.path.getsize(path)} bytes")


def main(src: str) -> None:
    read = lambda name: pq.read_table(os.path.join(src, f"{name}.parquet"))  # noqa: E731
    lineitem = read("lineitem")
    _write(
        _keep(lineitem.select(GBT_COLUMNS), "l_orderkey", 1, 10),
        os.path.join(HERE, "data", "gbt", "lineitem.parquet"),
    )

    qdir = os.path.join(HERE, "data", "query")
    orders = _keep(read("orders"), "o_orderkey", 2, 50)
    kept = set(orders.column("o_orderkey").to_pylist())
    li = lineitem.filter(
        pc.is_in(lineitem.column("l_orderkey"), value_set=orders.column("o_orderkey"))
    )
    assert set(np.unique(li.column("l_orderkey").to_numpy())) <= kept
    _write(orders, os.path.join(qdir, "orders.parquet"))
    _write(li, os.path.join(qdir, "lineitem.parquet"))
    _write(_keep(read("events"), "user_id", 3, 10), os.path.join(qdir, "events.parquet"))
    _write(_keep(read("documents"), "doc_id", 4, 5), os.path.join(qdir, "documents.parquet"))
    _write(_keep(read("embeddings"), "vec_id", 5, 5), os.path.join(qdir, "embeddings.parquet"))
    for name in ("customer", "part", "supplier", "nation", "region"):
        _write(read(name), os.path.join(qdir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: make_base.py <sf0.1 dir>")
    main(sys.argv[1])
