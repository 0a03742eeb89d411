"""Seeded input generators for the benchmark workloads (single process, NumPy).

Each generator is deterministic per seed -- the same seed writes byte-identical
files -- and writes into a per-seed directory, so a second run with the same
seed reuses the files.

- ``lineitem``: a TPC-H-shaped ``lineitem.parquet`` (``l_orderkey``,
  ``l_partkey``) whose part co-occurrence self-join is the dense workload's
  graph (``tcr_kcore_spark.sources.relational.cooccurrence_edges``).
- ``sparse_edgelist``: a whitespace text edge list with one Zipf-skewed
  endpoint per random edge plus a perfect matching, so no vertex is isolated.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

# Dense graph: the shape of the repository's sf0.01 TPC-H test lineitem
# (TESTDATA.md), the table the relational source serves: LINES rows whose
# l_orderkey is uniform over ORDERS orders (so about 4 lines per order,
# Poisson-distributed) and whose l_partkey is uniform over PARTS parts.  Its
# co-occurrence graph has 2,000 vertices and about 233k symmetric edge rows.
# The shape is drawn once from DENSE_SHAPE_SEED; the run seed relabels parts
# and orders and shuffles the rows.  Every seed therefore gives an isomorphic
# graph with its own ids, row order and hash placement, and the iteration
# counts of the fixpoints (which swing widely between random graphs of one
# size) stay fixed.
PARTS = 2_000
ORDERS = 15_000
LINES = 60_000
DENSE_SHAPE_SEED = 1

# Sparse graph: SPARSE_V vertices; a perfect matching (SPARSE_V / 2 edges)
# plus SPARSE_ZIPF_EDGES edges with one endpoint drawn from a bounded Zipf
# law (exponent ZIPF_S over a random permutation of the ids) and the other
# uniform.
SPARSE_V = 80_000
SPARSE_ZIPF_EDGES = 80_000
ZIPF_S = 0.6


def params_tag(kind: str) -> str:
    """Short hash of a generator's parameters, for cache keys."""
    if kind == "dense":
        p = (PARTS, ORDERS, LINES, DENSE_SHAPE_SEED)
    else:
        p = (SPARSE_V, SPARSE_ZIPF_EDGES, ZIPF_S)
    return hashlib.sha256(repr(p).encode()).hexdigest()[:8]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent streams per generator, all derived from the one seed
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([int(seed), tag])


def lineitem_arrays(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(orderkey, partkey) int64 arrays of the dense workload's lineitem."""
    shape = _rng(DENSE_SHAPE_SEED, "lineitem")
    orderkey = shape.integers(0, ORDERS, size=LINES, dtype=np.int64)
    partkey = shape.integers(0, PARTS, size=LINES, dtype=np.int64)
    rng = _rng(seed, "relabel")
    orderkey = rng.permutation(ORDERS).astype(np.int64)[orderkey] + 1
    partkey = rng.permutation(PARTS).astype(np.int64)[partkey] + 1
    rows = rng.permutation(orderkey.size)
    return orderkey[rows], partkey[rows]


def write_lineitem(seed: int, out_dir: str) -> str:
    """Write ``<out_dir>/lineitem.parquet`` once; returns ``out_dir`` (the
    ``sf_dir`` the relational source reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "lineitem.parquet")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        ok, pk = lineitem_arrays(seed)
        table = pa.table({"l_orderkey": ok, "l_partkey": pk})
        tmp = path + ".tmp"
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, path)
    return out_dir


def sparse_edges(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) int64 arrays of the sparse workload's undirected edges."""
    rng = _rng(seed, "sparse")
    perm = rng.permutation(SPARSE_V).astype(np.int64)
    # perfect matching over a random pairing: every vertex has degree >= 1
    match = perm.reshape(-1, 2)
    weights = np.arange(1, SPARSE_V + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(SPARSE_ZIPF_EDGES), side="right")
    hub_ids = rng.permutation(SPARSE_V).astype(np.int64)[np.minimum(ranks, SPARSE_V - 1)]
    other = rng.integers(0, SPARSE_V, size=SPARSE_ZIPF_EDGES, dtype=np.int64)
    src = np.concatenate([match[:, 0], hub_ids])
    dst = np.concatenate([match[:, 1], other])
    return src, dst


def write_sparse_edgelist(seed: int, out_dir: str) -> str:
    """Write ``<out_dir>/edges.txt`` once; returns its path."""
    path = os.path.join(out_dir, "edges.txt")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        src, dst = sparse_edges(seed)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"# sparse_resume seed={seed} V={SPARSE_V}\n")
            np.savetxt(f, np.column_stack([src, dst]), fmt="%d %d")
        os.replace(tmp, path)
    return path


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()
