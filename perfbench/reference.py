"""Independent references for every operator the benchmark calls.

Nothing here uses the engine: the graph is rebuilt from the generated input
arrays with NumPy/pandas, and the references are NumPy power iteration plus
networkx 3 (``connected_components``, ``core_number``, ``triangles``).  :func:`compute` builds them
once per workload and seed; :func:`check` compares one operator result.
"""

from __future__ import annotations

import numpy as np

# PageRank to a tolerance: the engine's rule, max|delta| <= PAGERANK_TOL
# checked every PAGERANK_CHECK_EVERY supersteps (its truncate_every).  The
# reference iterates with the same rule and measures how far its own stopping
# point is from the fixed point; the engine's ranks may be off the fixed
# point by at most PAGERANK_TOL_SLACK times that error.  Stopping one check
# early multiplies the error by about 40 on the dense graph, so a looser
# stopping rule fails the check.
PAGERANK_TOL = 1e-6
PAGERANK_CHECK_EVERY = 2
PAGERANK_TOL_SLACK = 1.5
# fixed-iteration runs differ from the reference only by summation order
PAGERANK_FIXED_ATOL = 1e-9


def cooccurrence_pairs(orderkey: np.ndarray, partkey: np.ndarray) -> np.ndarray:
    """Distinct undirected (a < b) part pairs that share an order."""
    import pandas as pd

    li = pd.DataFrame({"o": orderkey, "p": partkey}).drop_duplicates()
    m = li.merge(li, on="o")
    m = m[m["p_x"] < m["p_y"]]
    pairs = np.unique(m[["p_x", "p_y"]].to_numpy(dtype=np.int64), axis=0)
    return pairs


def undirected_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Distinct undirected (a < b) pairs of an edge list, self-loops dropped."""
    a = np.minimum(src, dst)
    b = np.maximum(src, dst)
    keep = a != b
    return np.unique(np.column_stack([a[keep], b[keep]]), axis=0)


def _pagerank(
    pairs: np.ndarray,
    iters: int | None = None,
    tol: float = 1e-13,
    check_every: int = 1,
    damping: float = 0.85,
):
    """Un-normalized PageRank on the symmetric closure of ``pairs``:
    r0 = 1, r' = (1 - d) + d * sum(r_u / deg_u).  Runs ``iters`` steps, or
    with ``iters=None`` until max|delta| <= ``tol`` at a step that is a
    multiple of ``check_every``.  Returns (ids, ranks, steps)."""
    ids = np.unique(pairs)
    s = np.searchsorted(ids, np.concatenate([pairs[:, 0], pairs[:, 1]]))
    d = np.searchsorted(ids, np.concatenate([pairs[:, 1], pairs[:, 0]]))
    deg = np.bincount(s, minlength=ids.size).astype(np.float64)
    r = np.ones(ids.size)
    it = 0
    while True:
        new = (1 - damping) + damping * np.bincount(d, weights=r[s] / deg[s], minlength=ids.size)
        delta = np.abs(new - r).max()
        r = new
        it += 1
        if iters is not None:
            if it >= iters:
                return ids, r, it
        elif (it % check_every == 0 and delta <= tol) or it >= 10_000:
            return ids, r, it


def _nx_graph(pairs: np.ndarray):
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(map(tuple, pairs.tolist()))
    return g


def compute(workload: str, pairs: np.ndarray) -> dict[str, np.ndarray]:
    """Reference arrays for ``workload`` on the undirected graph ``pairs``.
    Per-vertex results are (ids, values) pairs of aligned arrays; a
    ``<key>_atol`` entry is the absolute tolerance of that key."""
    import networkx as nx

    ref: dict[str, np.ndarray] = {"pairs_n": np.array([len(pairs)])}
    if workload == "sparse_resume":
        for n in (4, 8):
            ids, r, _ = _pagerank(pairs, iters=n)
            ref[f"pagerank{n}_id"], ref[f"pagerank{n}_val"] = ids, r
            ref[f"pagerank{n}_atol"] = np.array([PAGERANK_FIXED_ATOL])
        return ref
    g = _nx_graph(pairs)

    def put(name, mapping):
        ids = np.fromiter(mapping.keys(), dtype=np.int64, count=len(mapping))
        vals = np.fromiter(mapping.values(), dtype=np.float64, count=len(mapping))
        order = np.argsort(ids)
        ref[f"{name}_id"], ref[f"{name}_val"] = ids[order], vals[order]

    if workload == "dense":
        ids, fixed, _ = _pagerank(pairs)
        _, stopped, _ = _pagerank(pairs, tol=PAGERANK_TOL, check_every=PAGERANK_CHECK_EVERY)
        ref["pagerank_id"], ref["pagerank_val"] = ids, fixed
        ref["pagerank_atol"] = np.array([PAGERANK_TOL_SLACK * np.abs(stopped - fixed).max()])
        comp = {}
        for cc in nx.connected_components(g):
            m = min(cc)
            comp.update(dict.fromkeys(cc, m))
        put("components", comp)
        put("kcore", nx.core_number(g))
        put("triangles", nx.triangles(g))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return ref


def check(ref: dict[str, np.ndarray], key: str, table) -> str | None:
    """Compare an engine result (a pyarrow Table of (id, value)) with
    reference ``key``: exactly, or within ``<key>_atol`` when the reference
    has one.  Returns None when they agree, else a one-line reason."""
    cols = table.column_names
    ids = table.column(cols[0]).to_numpy().astype(np.int64)
    vals = table.column(cols[1]).to_numpy().astype(np.float64)
    order = np.argsort(ids)
    ids, vals = ids[order], vals[order]
    want_ids, want_vals = ref[f"{key}_id"], ref[f"{key}_val"]
    if not np.array_equal(ids, want_ids):
        return f"{key}: vertex set differs ({len(ids)} vs {len(want_ids)} rows)"
    err = np.abs(vals - want_vals)
    atol = float(ref[f"{key}_atol"][0]) if f"{key}_atol" in ref else 0.0
    if atol == 0.0 and err.max(initial=0.0) != 0.0:
        return f"{key}: {int((err != 0).sum())} vertices differ"
    if err.max(initial=0.0) > atol:
        return f"{key}: max abs error {err.max():.3g} > {atol:.3g}"
    return None
