"""Connected components: the union-find fast path, the large-star/
small-star loop (rounds as blocks, and as parquet under a checkpoint dir)
and the bare union-find kernel give identical cluster assignments on shared
graphs, including the adversarial long-chain shapes the star algorithm
exists for."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from set_sketch_paper_spark.operators import clustering
from set_sketch_paper_spark.operators.clustering import (
    _star_components,
    _unionfind_partition,
    connected_components,
)


def _clusters(df):
    return {r["id"]: r["cluster_id"] for r in df.collect()}


def _check_all_equal(spark, edge_rows, tmp_path):
    edges = spark.createDataFrame(edge_rows, "id1 long, id2 long")
    a = _clusters(connected_components(edges))  # small-graph union-find path
    assert a == _clusters(_star_components(edges))  # fast path == loop
    # rounds as parquet under a checkpoint dir instead of blocks
    assert a == _clusters(_star_components(edges, checkpoint_dir=str(tmp_path)))
    uf = _unionfind_partition(pd.DataFrame(edge_rows, columns=["id1", "id2"]))
    assert a == dict(zip(uf["id"].tolist(), uf["cluster_id"].tolist()))
    return a


def test_star_cc_long_path(spark, tmp_path):
    """A 300-node path with the minimum at one end — the worst case for
    naive min propagation (O(n) rounds) and the motivating shape for
    large-star/small-star."""
    got = _check_all_equal(spark, [(i, i + 1) for i in range(1, 300)], tmp_path)
    assert set(got.values()) == {1}
    assert len(got) == 300


def test_star_cc_shuffled_path(spark, tmp_path, monkeypatch):
    """Path whose vertex ids are randomly permuted: min-label chains zig-zag
    (pointer jumping needed ~110 rounds on this graph) — the star
    algorithm's motivating case.  The loop must produce the exact ground
    truth within its round bound, and must REFUSE to return half-merged
    clusters when the bound is too small."""
    rng = np.random.RandomState(5)
    perm = rng.permutation(250).tolist()
    rows = [(int(perm[i]) + 10, int(perm[i + 1]) + 10) for i in range(249)]
    got = _check_all_equal(spark, rows, tmp_path)
    assert set(got.values()) == {10}
    assert len(got) == 250
    # past the fast-path threshold connected_components runs the loop
    monkeypatch.setattr(clustering, "SMALL_GRAPH_EDGES", 0)
    monkeypatch.setattr(clustering, "MAX_ROUNDS", 2)
    edges = spark.createDataFrame(rows, "id1 long, id2 long")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(edges)


def test_star_cc_disjoint_cliques_and_singletable(spark, tmp_path):
    rng = np.random.RandomState(9)
    rows = []
    for base in (100, 200, 300):
        members = list(range(base, base + 12))
        for _ in range(30):
            a, b = rng.choice(members, 2, replace=False)
            if a != b:
                rows.append((int(a), int(b)))
    rows.append((990, 991))  # an isolated 2-cycle component
    got = _check_all_equal(spark, rows, tmp_path)
    assert got[990] == got[991] == 990
    assert {got[i] for i in range(100, 112)} == {100}
    assert {got[i] for i in range(200, 212)} == {200}


def test_star_cc_random_graph(spark, tmp_path):
    rng = np.random.RandomState(11)
    rows = [
        (int(a), int(b))
        for a, b in rng.randint(0, 150, size=(250, 2))
        if a != b
    ]
    _check_all_equal(spark, rows, tmp_path)


def test_star_cc_star_input_fixed_point(spark, tmp_path):
    """Already-star input converges in one round and is unchanged."""
    got = _check_all_equal(spark, [(1, k) for k in range(2, 40)], tmp_path)
    assert set(got.values()) == {1}
