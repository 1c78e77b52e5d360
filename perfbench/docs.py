"""Document-corpus pieces shared by batch_dedup and stream_ingest: the
pipeline configuration, the F1 truth labels and the single-thread L0 kernel
probes over the workload's own documents."""

from __future__ import annotations

import time
from statistics import median

import numpy as np

from set_sketch_paper_spark.config import LSHConfig, MinHashConfig, PipelineConfig, ShingleConfig
from set_sketch_paper_spark.sketchlib.estimators import MinHashJointEstimator
from set_sketch_paper_spark.sketchlib.minhash import band_hashes, minhash_batch
from set_sketch_paper_spark.sketchlib.shingle import shingle_sets_batch
from set_sketch_paper_spark.sources import synthetic

# The flagship document configuration (k=3 shingles, 128-register OPH,
# 32x4 bands, J >= 0.5).  band_cap is set above any bucket these corpora can
# form, so no bucket is capped: the streamed pair set then equals the batch
# pair set exactly, which is what stream_ingest checks.
PCFG = PipelineConfig(
    shingle=ShingleConfig(k=3),
    minhash=MinHashConfig(num_registers=128, algo="oph"),
    lsh=LSHConfig(num_bands=32, rows_per_band=4, band_cap=100_000),
    jaccard_threshold=0.5,
)


def near_dup_eps(row_id: int) -> float:
    """Edit fraction of a near-duplicate row, as sources.synthetic plants it
    (make_content_tokens: eps cycles 0.01, 0.05, 0.1, 0.2 over the block's
    near-dup sequence)."""
    seq = (row_id // 100) * 15 + (row_id % 100 - 60)
    return [0.01, 0.05, 0.1, 0.2][seq % 4]


def must_join(n_rows: int) -> list[tuple[int, int]]:
    """(row, prototype row) pairs the pipeline must put in one cluster: every
    exact duplicate, and every near duplicate with eps <= 0.05 (3-shingle
    Jaccard ~0.74 or more, far above the 0.5 threshold)."""
    out = []
    for row_id in range(n_rows):
        kind = synthetic.row_kind(row_id)
        if kind == synthetic.KIND_EXACT or (
            kind == synthetic.KIND_NEAR and near_dup_eps(row_id) <= 0.05
        ):
            out.append((row_id, synthetic.prototype_of(row_id, n_rows)))
    return out


def family(row_id: int, n_rows: int) -> int:
    """Truth family of a row: the background row it was planted from (itself
    for a background row).  All boilerplate rows share family -1: they carry
    one common header."""
    kind = synthetic.row_kind(row_id)
    if kind == synthetic.KIND_BACKGROUND:
        return row_id
    if kind == synthetic.KIND_BOILER:
        return -1
    return synthetic.prototype_of(row_id, n_rows)


def must_not_join(n_rows: int) -> list[tuple[int, int]]:
    """(row, prototype row) for every near duplicate with eps = 0.2: 3-shingle
    Jaccard ~0.34, well under the 0.5 threshold, yet a candidate in about a
    third of the LSH probes (1 - (1 - 0.34^4)^32), so only verification
    keeps them apart."""
    return [
        (row_id, synthetic.prototype_of(row_id, n_rows))
        for row_id in range(n_rows)
        if synthetic.row_kind(row_id) == synthetic.KIND_NEAR and near_dup_eps(row_id) == 0.2
    ]


def kernel_probe(texts: list[str], seed: int, reps: int = 3) -> dict:
    """Single-thread sketchlib cost of signing ``texts`` in the driver, the
    same calls the signature UDF makes per Arrow batch.  Returns the L0
    per-unit costs plus the kernel core-seconds for the whole set (the
    denominator of udfs.signature_overhead_ratio)."""
    sh, mh, lsh = PCFG.shingle, PCFG.minhash, PCFG.lsh
    n_tokens = sum(len(t.split()) for t in texts)  # token pattern is \S+
    shingle_s, minhash_s, sig_cpu_s = [], [], []
    for _ in range(reps):
        c0, t0 = time.process_time(), time.perf_counter()
        values, offsets = shingle_sets_batch(texts, sh.k, sh.token_pattern, sh.lowercase, sh.seed)
        t1 = time.perf_counter()
        sigs, sizes = minhash_batch(values, offsets, mh.num_registers, mh.seed, mh.algo)
        t2 = time.perf_counter()
        band_hashes(sigs, lsh.num_bands, lsh.rows_per_band, lsh.seed)
        sig_cpu_s.append(time.process_time() - c0)
        shingle_s.append(t1 - t0)
        minhash_s.append(t2 - t1)

    # pair estimator on pairs drawn from the workload's own signatures
    rng = np.random.default_rng(seed)
    n_pairs = min(200_000, max(1_000, len(texts) * 20))
    i1 = rng.integers(0, len(texts), n_pairs)
    i2 = rng.integers(0, len(texts), n_pairs)
    s1, s2 = sigs[i1], sigs[i2]
    c1, c2 = sizes[i1].astype(np.float64), sizes[i2].astype(np.float64)
    est = MinHashJointEstimator(mh.num_registers)
    pair_s = []
    for _ in range(reps):
        t0 = time.perf_counter()
        est.joint_original(s1, s2, card1=c1, card2=c2)
        pair_s.append(time.perf_counter() - t0)

    return {
        "sketchlib.shingle_ns_per_token": median(shingle_s) / n_tokens * 1e9,
        "sketchlib.minhash_oph_ns_per_elem": median(minhash_s) / len(values) * 1e9,
        "sketchlib.pair_est_ns_per_pair": median(pair_s) / n_pairs * 1e9,
        "_kernel_sig_cpu_s": median(sig_cpu_s),
    }

