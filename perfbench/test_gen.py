"""Checks of the benchmark's generators and references (no Spark).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402


def test_sparse_edgelist_is_deterministic_per_seed(tmp_path):
    a = gen.write_sparse_edgelist(5, str(tmp_path / "a"))
    b = gen.write_sparse_edgelist(5, str(tmp_path / "b"))
    c = gen.write_sparse_edgelist(6, str(tmp_path / "c"))
    assert gen.file_sha256(a) == gen.file_sha256(b)
    assert gen.file_sha256(a) != gen.file_sha256(c)


def test_lineitem_is_deterministic_per_seed(tmp_path):
    a = gen.write_lineitem(5, str(tmp_path / "a"))
    b = gen.write_lineitem(5, str(tmp_path / "b"))
    c = gen.write_lineitem(6, str(tmp_path / "c"))
    h = [gen.file_sha256(os.path.join(d, "lineitem.parquet")) for d in (a, b, c)]
    assert h[0] == h[1] != h[2]


def test_dense_seeds_relabel_one_shape():
    """Seeds change ids and row order but not the graph's shape, so the
    fixpoints run the same number of rounds on every seed."""
    degs = []
    for seed in (1, 2):
        pairs = reference.cooccurrence_pairs(*gen.lineitem_arrays(seed))
        degs.append(np.sort(np.bincount(pairs.ravel())))
    assert np.array_equal(degs[0], degs[1])


def test_sparse_graph_is_in_the_shuffle_regime(monkeypatch):
    """The sparse workload must exceed the broadcast cap the benchmark runs
    with, and the dense graph must stay under it."""
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_MAX_ROWS", str(run.BROADCAST_MAX_ROWS))
    from tcr_kcore_spark.plans.partitioning import broadcast_max_rows

    src, dst = gen.sparse_edges(1)
    v_sparse = np.unique(np.concatenate([src, dst])).size
    assert v_sparse == gen.SPARSE_V  # the matching leaves no vertex isolated
    assert v_sparse > broadcast_max_rows()
    assert gen.PARTS <= broadcast_max_rows()


@pytest.mark.parametrize("seed", [3, 4])
def test_references_match_test_oracles(seed):
    """The vectorized PageRank reference agrees with the loop oracle of the
    test suite on a small random graph."""
    from tests import oracles

    edges = oracles.er_graph(n=200, avg_deg=6, seed=seed)
    pairs = reference.undirected_pairs(*np.array(edges).T)
    sym = [(int(a), int(b)) for a, b in pairs] + [(int(b), int(a)) for a, b in pairs]
    ids, r, _ = reference._pagerank(pairs, iters=8)
    want = oracles.pagerank(sym, iters=8)
    assert np.allclose(r, [want[v] for v in ids.tolist()], atol=1e-12)


def test_pagerank_tolerance_rejects_an_earlier_stop():
    """On the dense graph, ranks stopped by the engine's rule pass the
    PageRank check, and ranks stopped one convergence check earlier fail it."""
    import pyarrow as pa

    pairs = reference.cooccurrence_pairs(*gen.lineitem_arrays(1))
    ref = reference.compute("dense", pairs)
    ids, r, steps = reference._pagerank(
        pairs, tol=reference.PAGERANK_TOL, check_every=reference.PAGERANK_CHECK_EVERY
    )
    assert reference.check(ref, "pagerank", pa.table({"id": ids, "rank": r})) is None
    ids, r, _ = reference._pagerank(pairs, iters=steps - reference.PAGERANK_CHECK_EVERY)
    assert reference.check(ref, "pagerank", pa.table({"id": ids, "rank": r})) is not None
