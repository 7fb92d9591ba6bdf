"""Seeded market-basket generator for the ``fim_market`` workload.

Baskets of 2-15 distinct items are drawn from an item universe with
Zipf popularity and written as ``lineitem.parquet`` (``l_orderkey``,
``l_partkey``) so that ``sources.io.load_table`` reads them like the
fixture table of the same name. Files are cached per (seed, size) under
the benchmark's work directory; every use regenerates the rows in
memory and checks them, the file's row count and its bytes against the
manifest written with the file, so one seed always means one input.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class BasketSpec:
    n_baskets: int
    n_items: int = 20_000
    zipf_s: float = 0.8
    min_size: int = 2
    max_size: int = 15


def generate(seed: int, spec: BasketSpec) -> pa.Table:
    """Rows (l_orderkey, l_partkey), sorted, distinct within a basket."""
    rng = np.random.default_rng(seed)
    sizes = rng.integers(spec.min_size, spec.max_size + 1, spec.n_baskets)
    ranks = np.arange(1, spec.n_items + 1, dtype=np.float64)
    popularity = ranks ** -spec.zipf_s
    popularity /= popularity.sum()
    drawn = rng.choice(spec.n_items, size=int(sizes.sum()), p=popularity)
    # Popularity rank -> part key, so key order says nothing about rank.
    partkey = rng.permutation(spec.n_items).astype(np.int64)[drawn] + 1
    orderkey = np.repeat(np.arange(1, spec.n_baskets + 1, dtype=np.int64), sizes)
    # A repeated draw inside one basket is one item, as collect_set sees it.
    packed = np.unique(orderkey * (spec.n_items + 1) + partkey)
    return pa.table(
        {
            "l_orderkey": packed // (spec.n_items + 1),
            "l_partkey": packed % (spec.n_items + 1),
        }
    )


def content_hash(table: pa.Table) -> str:
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        h.update(table.column(name).to_numpy().tobytes())
    return h.hexdigest()


def file_hash(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def market_dir(work: Path, seed: int, spec: BasketSpec) -> Path:
    """Directory holding ``lineitem.parquet`` for this seed and size,
    written on first use and verified on every use."""
    d = work / "inputs" / f"market_s{seed}_b{spec.n_baskets}"
    path, manifest = d / "lineitem.parquet", d / "manifest.json"
    table = generate(seed, spec)
    want = {"seed": seed, "spec": asdict(spec), "rows": table.num_rows,
            "content_sha256": content_hash(table)}
    if not manifest.exists():
        d.mkdir(parents=True, exist_ok=True)
        tmp = d / "lineitem.parquet.tmp"
        pq.write_table(table, tmp, compression="snappy", row_group_size=1 << 18)
        os.replace(tmp, path)
        manifest.write_text(json.dumps({**want, "file_sha256": file_hash(path)}))
    have = json.loads(manifest.read_text())
    if {k: have.get(k) for k in want} != want:
        raise RuntimeError(f"{d}: regenerated rows differ from the manifest")
    if file_hash(path) != have["file_sha256"]:
        raise RuntimeError(f"{path}: bytes differ from the manifest")
    if pq.ParquetFile(path).metadata.num_rows != want["rows"]:
        raise RuntimeError(f"{path}: row count differs from the manifest")
    return d
