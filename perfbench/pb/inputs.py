"""Seeded, fresh input directories made from the committed base tables.

A run never reuses a directory: every copy gets a new path (and so a new
mtime), which keeps the program's per-source memos and staging from
serving a result built by an earlier copy or run. The seed picks one of
``N_VARIANTS`` row subsets; each variant drops a different hash sixth of
the keyed tables, so all variants are the same size and the expected
outputs of each are recorded in ``expected.json``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")
N_VARIANTS = 4
_DROP_MODULUS = 6
# (table, key column) pairs thinned per variant; the rest are copied whole
_KEYED = {"orders": "o_orderkey", "events": "user_id", "documents": "doc_id", "embeddings": "vec_id"}
QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
GBT_PARTS = 4


def hash_bucket(keys: np.ndarray, salt: int, modulus: int) -> np.ndarray:
    """Deterministic bucket in ``[0, modulus)`` per integer key (a
    splitmix64 finalizer over key + salt)."""
    with np.errstate(over="ignore"):
        x = keys.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x % np.uint64(modulus)).astype(np.int64)


def variant_of(seed: int) -> int:
    return seed % N_VARIANTS


def _drop(table: pa.Table, column: str, variant: int) -> pa.Table:
    keys = table.column(column).to_numpy()
    return table.filter(hash_bucket(keys, 100 + variant, _DROP_MODULUS) != variant)


class InputMaker:
    """Reads the base tables once and writes fresh copies of one variant."""

    def __init__(self, kind: str, variant: int, root: str):
        self.kind = kind
        self.variant = variant
        self.root = root
        self.copies = 0
        self._tables = self._variant_tables()

    def _variant_tables(self) -> dict[str, pa.Table]:
        if self.kind == "gbt":
            base = pq.read_table(os.path.join(DATA, "gbt", "lineitem.parquet"))
            return {"lineitem": _drop(base, "l_orderkey", self.variant)}
        tables = {
            name: pq.read_table(os.path.join(DATA, "query", f"{name}.parquet"))
            for name in QUERY_TABLES
        }
        for name, column in _KEYED.items():
            tables[name] = _drop(tables[name], column, self.variant)
        li = tables["lineitem"]
        tables["lineitem"] = li.filter(
            pc.is_in(li.column("l_orderkey"), value_set=tables["orders"].column("o_orderkey"))
        )
        return tables

    def table(self, name: str) -> pa.Table:
        return self._tables[name]

    def fresh_copy(self, label: str) -> str:
        """Write the variant into a new directory and return its path."""
        self.copies += 1
        path = os.path.join(self.root, f"{label}-{self.copies}")
        os.makedirs(path)
        for name, table in self._tables.items():
            if self.kind == "gbt":
                # a directory of parts, so the scan has one split per core
                out = os.path.join(path, f"{name}.parquet")
                os.makedirs(out)
                step = -(-table.num_rows // GBT_PARTS)
                for i in range(GBT_PARTS):
                    pq.write_table(
                        table.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet")
                    )
            else:
                pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        return path
