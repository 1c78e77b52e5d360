"""Connected components on an edge DataFrame (duplicate clustering).

``connected_components`` has one distributed algorithm behind a
size-adaptive fast path.  Edge sets of at most ``SMALL_GRAPH_EDGES`` edges
are solved by one executor-side union-find.  Larger ones run the
alternating large-star/small-star loop (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — the algorithm behind
GraphFrames' connected components), which converges in O(log n) rounds
even on long chains with permuted ids.

Materializing each round (a localCheckpoint, or parquet under a checkpoint
dir) truncates the iterative lineage; without it Catalyst re-derives the
full chain of joins every iteration and the plan grows without bound (the
classic iterative-DataFrame trap).  A round reads only the round before it,
whose block is freed once the next is materialized; the vertex set's and
the last round's blocks go to the caller's ``held``.

The reference repo has no clustering; this stage turns its pairwise joint
estimates into the cluster assignments required by the north rule
(cluster id = min member id, deterministic).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, Observation, functions as F

from ..functions.blocks import materialize, release, sever_plan_identity

# edge sets up to this size take the single-task union-find path
SMALL_GRAPH_EDGES = 1_000_000
# round bound of the star loop (O(log n) rounds expected); hitting it raises
# rather than returning half-merged clusters
MAX_ROUNDS = 40


def _symmetric(edges: DataFrame) -> DataFrame:
    return edges.select("id1", "id2").union(
        edges.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
    )


def _unionfind_partition(pdf):
    """Single-task union-find over one edge partition: (id, cluster_id =
    min reachable id) for every vertex present.  Roots are kept at the
    component minimum (union-by-min + path compression), so the final
    labels are identical to the distributed min-label fixed point,
    independent of edge order."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    ids1 = pdf["id1"].tolist()
    ids2 = pdf["id2"].tolist()
    for x, y in zip(ids1, ids2):
        rx, ry = find(x), find(y)
        if rx != ry:
            if rx < ry:
                parent[ry] = rx
            else:
                parent[rx] = ry
        else:
            parent.setdefault(x, x)
    verts = sorted(set(ids1) | set(ids2))
    return pd.DataFrame({"id": verts, "cluster_id": [find(v) for v in verts]})


def connected_components(
    edges: DataFrame, checkpoint_dir: str | None = None, n_edges: int | None = None,
    held: set[int] | None = None,
) -> DataFrame:
    """(id1, id2) undirected edges -> (id, cluster_id = min reachable id).

    Includes every vertex that appears in the edge list (callers union in
    isolated vertices as their own singleton clusters if needed).

    Size-adaptive fast path (r6, guide §1.2/§2.4): if the RAW edge list
    fits a single task (count <= ``SMALL_GRAPH_EDGES``), the components are
    solved by ONE executor-side union-find (applyInPandas on a constant
    key) instead of a multi-round distributed loop — a verified near-dup
    edge set is orders of magnitude smaller than its corpus, and each loop
    round costs shuffles plus a materialization barrier that dwarf a
    small graph's actual work (measured: the sf1.0 flagship's cluster
    stage dropped 7-9s -> ~1s).  The fast path consumes the raw edges
    directly: union-find is invariant under duplicate/reversed edges, so
    no canonicalizing dedup shuffle or localCheckpoint is needed.  Labels
    are identical (union-by-min root == min-label fixed point; asserted
    against the loop in tests/test_clustering_star.py).  Beyond the
    threshold the large-star/small-star loop runs.

    ``n_edges`` is an edge count, or an upper bound on it, that the caller
    already holds (the pipeline observes its stages' row counts as they
    materialize).  A bound at or below the threshold takes the fast path
    with no job; without one, or above the threshold, the decision counts
    the edges exactly, in one aggregate-only pass over the edge subtree (no
    shuffle, no materialization), so the path chosen never depends on how
    loose the bound is.  Callers whose edge lineage is expensive to
    recompute should checkpoint it first.

    The loop's rounds are localCheckpoint blocks, or, with
    ``checkpoint_dir``, parquet written under it as ``r<i>``: on a real
    cluster localCheckpoint blocks die with their executor and the truncated
    lineage cannot be replayed.  The blocks the lazy result reads (the
    vertex set and the last round) are added to ``held`` for the caller to
    release once it has materialized the result; without ``held`` they stay
    until the ContextCleaner frees them.
    """
    e2 = edges.select("id1", "id2")
    if n_edges is None or n_edges > SMALL_GRAPH_EDGES:
        n_edges = e2.count()
    if n_edges <= SMALL_GRAPH_EDGES:
        return (
            e2.withColumn("_g", F.lit(0))
            .groupBy("_g")
            .applyInPandas(_unionfind_partition, "id long, cluster_id long")
        )
    return _star_components(e2, checkpoint_dir, held)


def _star_components(
    edges: DataFrame, checkpoint_dir: str | None = None, held: set[int] | None = None
) -> DataFrame:
    """Alternating large-star/small-star connected components — the loop
    behind ``connected_components`` for edge sets too large for one task.

    Edge set is held canonically as (id1 > id2); each round is two grouped
    min-aggregations + id-keyed joins, the edge count is non-increasing, and
    at the fixed point every component is a star centered at its minimum id.
    Output: (id, cluster_id = min reachable id) for every vertex in the
    input edge list.  Raises rather than returning half-merged clusters if
    ``MAX_ROUNDS`` rounds do not reach the fixed point.

    The fixed point is detected by a (count, hash-xor) fingerprint of each
    round's edge set, observed on the round's own materialization (no extra
    job).  Two equal-cardinality edge sets with equal 64-bit xxhash64
    XOR-folds are equal with overwhelming probability (a collision needs
    the symmetric difference's hashes to cancel exactly in GF(2)^64).
    bit_xor instead of sum keeps it overflow-free under ANSI mode.
    """
    spark = edges.sparkSession
    held = set() if held is None else held
    written = itertools.count()

    def checkpoint(df: DataFrame, owner: set[int], stats: Observation | None = None) -> DataFrame:
        if stats is not None:
            df = df.observe(stats, F.count(F.lit(1)).alias("n"),
                            F.expr("bit_xor(xxhash64(id1, id2))").alias("h"))
        path = checkpoint_dir and os.path.join(checkpoint_dir, f"r{next(written)}")
        # sever after the id is read: the severed frame wraps another RDD
        return sever_plan_identity(materialize(df, owner, path=path))

    # prev: the previous round's block
    prev: set[int] = set()
    verts = checkpoint(
        edges.select(F.col("id1").alias("id"))
        .union(edges.select(F.col("id2").alias("id")))
        .distinct(),
        held,
    )
    e_stats = Observation()
    e = checkpoint(
        edges.select(
            F.greatest("id1", "id2").alias("id1"), F.least("id1", "id2").alias("id2")
        )
        .filter(F.col("id1") != F.col("id2"))
        .dropDuplicates(["id1", "id2"]),
        prev,
        e_stats,
    )

    for _ in range(MAX_ROUNDS):
        # LARGE-STAR: per node u over its FULL neighborhood, link every
        # strictly-larger neighbor v to m = min(N(u) ∪ {u})
        sym = _symmetric(e)
        m_of = sym.groupBy(F.col("id1").alias("u")).agg(
            F.least(F.min("id2"), F.first("id1")).alias("m")
        )
        # (first("id1") inside the group == the group key u itself)
        large = (
            sym.join(m_of, sym.id1 == m_of.u)
            .filter(F.col("id2") > F.col("id1"))
            .select(F.col("id2").alias("id1"), F.col("m").alias("id2"))
            .filter(F.col("id1") != F.col("id2"))
            .dropDuplicates(["id1", "id2"])
        )
        # SMALL-STAR: per node a over its smaller neighbors {b}, link a and
        # every b except the minimum to m = min(b's)
        grp = large.groupBy(F.col("id1").alias("a")).agg(F.min("id2").alias("m"))
        small = (
            large.join(grp, large.id1 == grp.a)
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("x"), F.col("m").alias("mm")),
                        F.struct(F.col("id2").alias("x"), F.col("m").alias("mm")),
                    )
                ).alias("s")
            )
            .select(F.col("s.x").alias("id1"), F.col("s.mm").alias("id2"))
            .filter(F.col("id1") != F.col("id2"))
            .dropDuplicates(["id1", "id2"])
        )
        cur: set[int] = set()
        new_stats = Observation()
        e = checkpoint(small, cur, new_stats)
        release(spark, prev)
        prev = cur
        if new_stats.get == e_stats.get:
            break
        e_stats = new_stats
    else:
        raise RuntimeError(
            f"connected components did not converge in {MAX_ROUNDS} rounds"
        )
    held |= prev

    return verts.join(
        e.select(F.col("id1").alias("id"), F.col("id2").alias("root")), "id", "left"
    ).select("id", F.coalesce("root", "id").alias("cluster_id"))
