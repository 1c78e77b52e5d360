"""Single-node numpy oracle for the near-duplicate pipeline.

Runs the IDENTICAL shingle/signature/LSH config over a pandas corpus using
the same sketchlib kernels as the Spark pipeline.  Because both sides are
pure functions of (content, config), the Spark pipeline must reproduce the
oracle's candidate pairs and cluster assignments bit-for-bit; the north
rule's "dup-pair recall >= 0.99 vs reference behavior" is measured against
this oracle (SURVEY.md §7.3, BASELINE.md targets).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from .config import PipelineConfig
from .sketchlib.estimators import MinHashJointEstimator
from .sketchlib.minhash import band_hashes, minhash_batch
from .sketchlib.shingle import shingle_sets_batch


class _UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def oracle_near_dup(
    docs: pd.DataFrame,
    pcfg: PipelineConfig,
    id_col: str = "doc_id",
    content_col: str = "content",
):
    """Returns (pairs DataFrame(id1, id2, est_jaccard), clusters dict
    id -> min-member cluster id) under the exact pipeline semantics:
    LSH buckets (band cap applied), equal-register Jaccard, threshold,
    connected components."""
    ids = docs[id_col].to_numpy()
    values, offsets = shingle_sets_batch(
        docs[content_col].tolist(),
        pcfg.shingle.k,
        pcfg.shingle.token_pattern,
        pcfg.shingle.lowercase,
        pcfg.shingle.seed,
    )
    sigs, sizes = minhash_batch(values, offsets, pcfg.minhash.num_registers,
                                pcfg.minhash.seed, pcfg.minhash.algo)
    bands = band_hashes(sigs, pcfg.lsh.num_bands, pcfg.lsh.rows_per_band, pcfg.lsh.seed)

    # bucket key = band_hash VALUE alone (position already salted into the
    # hash by band_hashes) — must mirror operators/lsh.py::explode_bands
    # exactly for the bit-exact recall gate
    buckets: dict = defaultdict(list)
    for i in range(len(ids)):
        for b in range(pcfg.lsh.num_bands):
            buckets[int(bands[i, b])].append(i)

    cand = set()
    for members in buckets.values():
        if 2 <= len(members) <= pcfg.lsh.band_cap:
            ms = sorted(members, key=lambda i: ids[i])
            for x in range(len(ms)):
                for y in range(x + 1, len(ms)):
                    i, j = ms[x], ms[y]
                    if ids[i] != ids[j]:
                        cand.add((i, j) if ids[i] < ids[j] else (j, i))

    cand = sorted(cand)
    est = MinHashJointEstimator(pcfg.minhash.num_registers)
    if cand:
        i1 = np.array([c[0] for c in cand])
        i2 = np.array([c[1] for c in cand])
        # same known-cardinality joint_original call as the pipeline's
        # verification UDF (identical numpy code path => bit-exact est_jaccard
        # including the feasible-band trim in joint_from_jaccard)
        jac = est.joint_original(
            sigs[i1], sigs[i2],
            card1=sizes[i1].astype(np.float64), card2=sizes[i2].astype(np.float64),
        )["jaccard"]
        keep = jac >= pcfg.jaccard_threshold
        pairs = pd.DataFrame(
            {
                "id1": ids[i1[keep]],
                "id2": ids[i2[keep]],
                "est_jaccard": jac[keep],
            }
        )
    else:
        pairs = pd.DataFrame({"id1": [], "id2": [], "est_jaccard": []})

    uf = _UnionFind()
    for a, b in zip(pairs["id1"], pairs["id2"]):
        uf.union(a, b)
    clusters = {i: uf.find(i) for i in uf.parent}
    return pairs, clusters
