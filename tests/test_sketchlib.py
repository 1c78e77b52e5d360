"""Unit + property tests for the pure-numpy kernel layer.

Models the reference's test strategy (SURVEY.md §5):
- exact bulk/stream/merge equivalence  <- c++/bulk_update_test.cpp:86
- merge commutative/associative/idempotent, insertion-order independence
- ground-truth-by-construction joint fixtures <- joint_estimation_test.cpp:104-199
"""

import numpy as np
import pytest

from set_sketch_paper_spark.sketchlib import (
    bbit_signature,
    ghll_sketch,
    ghll_sketches_batch,
    merge_ghll,
    merge_minhash,
    merge_setsketch,
    minhash_cardinality,
    minhash_signature,
    minhash_signatures_batch,
    setsketch_sketch,
    shingle_hashes,
    splitmix64,
    token_hashes,
    tokenize,
)
from set_sketch_paper_spark.sketchlib.minhash import band_hashes
from set_sketch_paper_spark.sketchlib.shingle import shingle_sets_batch

from conftest import random_u64

M = 256
GQ, GB, GA = 62, 2.0, 20.0


def split_chunks(rng, arr, n_chunks):
    idx = np.sort(rng.choice(len(arr) - 1, size=n_chunks - 1, replace=False) + 1)
    return np.split(arr, idx)


@pytest.mark.parametrize("card", [1, 10, 100, 1000, 10_000])
def test_minhash_merge_equals_union(rng, card):
    """merge(sketch(chunk_i)) == sketch(all), any chunking (F4)."""
    data = random_u64(rng, card)
    full = minhash_signature(data, M, seed=1)
    n_chunks = min(4, card)
    chunks = split_chunks(rng, data, n_chunks) if n_chunks > 1 else [data]
    partials = [minhash_signature(c, M, seed=1) for c in chunks]
    merged = partials[0]
    for p in partials[1:]:
        merged = merge_minhash(merged, p)
    assert np.array_equal(full, merged)


def test_minhash_order_and_dup_invariance(rng):
    data = random_u64(rng, 500)
    sig = minhash_signature(data, M, seed=1)
    assert np.array_equal(sig, minhash_signature(data[::-1], M, seed=1))
    assert np.array_equal(sig, minhash_signature(np.tile(data, 3), M, seed=1))
    # merge idempotent
    assert np.array_equal(sig, merge_minhash(sig, sig))


def test_minhash_batch_matches_single(rng):
    sets = [random_u64(rng, n) for n in (5, 0, 100, 1)]
    values = np.concatenate(sets)
    offsets = np.cumsum([0] + [len(s) for s in sets])
    sigs, sizes = minhash_signatures_batch(values, offsets, M, seed=9)
    assert list(sizes) == [5, 0, 100, 1]
    for i, s in enumerate(sets):
        if len(s):
            assert np.array_equal(sigs[i], minhash_signature(s, M, seed=9))
        else:
            assert np.all(sigs[i] == np.iinfo(np.uint64).max)


@pytest.mark.parametrize("sketch,merge", [
    (lambda d: ghll_sketch(d, M, GB, GQ, seed=3), merge_ghll),
    (lambda d: setsketch_sketch(d, M, GB, GA, GQ, seed=4), merge_setsketch),
])
def test_registers_merge_equals_union(rng, sketch, merge):
    data = random_u64(rng, 5000)
    full = sketch(data)
    chunks = split_chunks(rng, data, 5)
    merged = sketch(chunks[0])
    for c in chunks[1:]:
        merged = merge(merged, sketch(c))
    assert np.array_equal(full, merged)
    assert np.array_equal(full, merge(full, full))  # idempotent
    assert np.array_equal(full, sketch(data[rng.permutation(len(data))]))


def test_ghll_batch_matches_single(rng):
    sets = [random_u64(rng, n) for n in (7, 0, 300)]
    values = np.concatenate(sets)
    offsets = np.cumsum([0] + [len(s) for s in sets])
    regs, sizes = ghll_sketches_batch(values, offsets, M, GB, GQ, seed=3)
    for i, s in enumerate(sets):
        expect = ghll_sketch(s, M, GB, GQ, seed=3) if len(s) else np.zeros(M, np.uint8)
        assert np.array_equal(regs[i], expect)


def test_minhash_cardinality_accuracy(rng):
    for true in (100, 10_000):
        data = random_u64(rng, true)
        est = minhash_cardinality(minhash_signature(data, 1024, seed=1))[0]
        assert abs(est - true) / true < 0.15  # ~3x theoretical sd 1/sqrt(m)


def test_bbit_and_bands(rng):
    data = random_u64(rng, 200)
    sig = minhash_signature(data, 128, seed=1)
    b = bbit_signature(sig, 8)
    assert b.dtype == np.uint8 and b.shape == (128,)
    bh = band_hashes(np.vstack([sig, sig]), 16, 8, seed=2)
    assert bh.shape == (2, 16)
    assert np.array_equal(bh[0], bh[1])
    other = minhash_signature(random_u64(rng, 200), 128, seed=1)
    bh2 = band_hashes(np.vstack([sig, other]), 16, 8, seed=2)
    assert not np.array_equal(bh2[0], bh2[1])


def test_splitmix_determinism():
    x = np.arange(10, dtype=np.uint64)
    a, b = splitmix64(x), splitmix64(x)
    assert np.array_equal(a, b)
    assert len(np.unique(a)) == 10  # bijective on sample


def test_tokenize_and_shingles():
    toks = tokenize("a b c d")
    assert toks == ["a", "b", "c", "d"]
    th = token_hashes(toks, seed=0)
    assert len(th) == 4
    # same token -> same hash
    th2 = token_hashes(["a", "a"], seed=0)
    assert th2[0] == th2[1] == th[0]
    s3 = shingle_hashes(th, 3)
    assert len(s3) == 2  # (a,b,c), (b,c,d)
    # short text still yields one shingle
    s_short = shingle_hashes(token_hashes(["x"], seed=0), 3)
    assert len(s_short) == 1
    # empty
    assert len(shingle_hashes(token_hashes([], 0), 3)) == 0


def test_shingle_batch_layout():
    texts = ["a b c d e", "", "x y"]
    values, offsets = shingle_sets_batch(texts, k=3)
    assert offsets[0] == 0 and len(values) == offsets[-1]
    assert offsets[2] - offsets[1] == 0  # empty text -> empty set
    assert offsets[3] - offsets[2] == 1  # short text -> 1 shingle
    # near-dup texts share most shingles
    v1, _ = shingle_sets_batch(["the quick brown fox jumps over the lazy dog"], k=3)
    v2, _ = shingle_sets_batch(["the quick brown fox leaps over the lazy dog"], k=3)
    inter = len(np.intersect1d(v1, v2))
    union = len(np.union1d(v1, v2))
    assert 0.2 < inter / union < 0.8


# ---------------------------------------------------------------------------
# vectorized shingle batch == per-row reference; OPH properties
# ---------------------------------------------------------------------------

def test_shingle_batch_matches_reference_impl():
    """The batch kernel (Arrow whitespace split for \\S+) equals the per-row
    str.split()/findall reference, for list and pyarrow input alike."""
    import sys

    import pyarrow as pa

    from set_sketch_paper_spark.sketchlib.shingle import _shingle_sets_batch_ref

    spaces = [c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()]
    texts = [
        "", None, "one", "one two", "a b c d e f g", "x " * 50,
        "dup dup dup dup", "tok1 tok2 tok3 tok1 tok2 tok3",
        "  lead", "trail  ", "  both  ", "a   b\t\tc\n\nd", "   ", "\n",
        "İstanbul İSTANBUL", "x.y, z!", "Ünïcode wörds, ok?",
    ] + [f"w{i} w{i+1} w{i+2} w{i+3} w{i+4} w{i+5}" for i in range(40)] + [
        f"{c}p{c}q{c}{c}r s{c}" for c in spaces
    ]
    for k in (1, 3, 5, 9):
        for pattern in (r"\S+", r"\w+|[^\w\s]"):
            for lowercase in (False, True):
                case = (k, pattern, lowercase)
                v1, o1 = _shingle_sets_batch_ref(texts, k, pattern, lowercase)
                for given in (texts, pa.array(texts, type=pa.string())):
                    v2, o2 = shingle_sets_batch(given, k, pattern, lowercase)
                    assert np.array_equal(o1, o2), case
                    assert np.array_equal(v1, v2), case


def test_oph_properties(rng):
    from set_sketch_paper_spark.sketchlib.minhash import minhash_signatures_batch_oph

    UMAX = np.iinfo(np.uint64).max
    sets = [random_u64(rng, n) for n in (1000, 3, 0, 64)]
    values = np.concatenate(sets)
    offsets = np.cumsum([0] + [len(s) for s in sets])
    sigs, sizes = minhash_signatures_batch_oph(values, offsets, 128, seed=7)
    assert list(sizes) == [1000, 3, 0, 64]
    # empty set -> untouched registers
    assert np.all(sigs[2] == UMAX)
    # non-empty sets are fully densified (no UMAX left)
    assert not np.any(sigs[0] == UMAX)
    assert not np.any(sigs[1] == UMAX)
    # identical set -> identical signature regardless of order/duplication
    sh = np.concatenate([sets[0][::-1], sets[0][:100]])
    v2 = np.concatenate([sets[0], sh])
    o2 = np.array([0, len(sets[0]), len(sets[0]) + len(sh)])
    s2, _ = minhash_signatures_batch_oph(v2, o2, 128, seed=7)
    assert np.array_equal(s2[0], s2[1])
    assert np.array_equal(s2[0], sigs[0])


def test_oph_jaccard_estimator_unbiased(rng):
    """Register-equality Jaccard over densified OPH tracks truth
    (Shrivastava & Li ICML'14 unbiasedness), n >> m regime."""
    from set_sketch_paper_spark.sketchlib.minhash import minhash_signatures_batch_oph

    m, reps = 128, 150
    inter, diff = 600, 300  # J = 600/1200 = 0.5
    ests = []
    for _ in range(reps):
        common = random_u64(rng, inter)
        a = np.concatenate([common, random_u64(rng, diff)])
        b = np.concatenate([common, random_u64(rng, diff)])
        v = np.concatenate([a, b])
        o = np.array([0, len(a), len(a) + len(b)])
        s, _ = minhash_signatures_batch_oph(v, o, m, seed=3)
        ests.append(float((s[0] == s[1]).mean()))
    mean = np.mean(ests)
    assert abs(mean - 0.5) < 0.02, mean
    rmse = np.sqrt(np.mean((np.array(ests) - 0.5) ** 2))
    assert rmse < 2.0 * np.sqrt(0.5 * 0.5 / m), rmse


# ---------------------------------------------------------------------------
# HLL and HyperMinHash kernels (sketch.hpp:1063-1083, 1873-1960)
# ---------------------------------------------------------------------------

def test_hll_merge_and_accuracy(rng):
    from set_sketch_paper_spark.sketchlib import hll_sketches_batch
    from set_sketch_paper_spark.sketchlib.estimators import SetSketchEstimator

    p, q = 10, 54
    m = 1 << p
    data = random_u64(rng, 50_000)
    full, _ = hll_sketches_batch(data, np.array([0, len(data)]), p, q, seed=5)
    # merge equivalence over a split
    a, _ = hll_sketches_batch(data[:20_000], np.array([0, 20_000]), p, q, seed=5)
    b, _ = hll_sketches_batch(data[20_000:], np.array([0, 30_000]), p, q, seed=5)
    assert np.array_equal(np.maximum(a, b), full)
    est = SetSketchEstimator(q, 1.0 / m, 2.0, m, card_range_correction=True)
    vals = [
        est.cardinality_simple(
            hll_sketches_batch(random_u64(rng, 50_000), np.array([0, 50_000]), p, q, seed=s)[0]
        )[0]
        for s in range(30)
    ]
    rel = np.abs(np.mean(vals) - 50_000) / 50_000
    assert rel < 0.02, rel
    rel_rmse = np.sqrt(np.mean((np.array(vals) / 50_000 - 1) ** 2))
    # theory ~ 1.04/sqrt(m) = 3.25%
    assert rel_rmse < 2.0 * 1.04 / np.sqrt(m), rel_rmse


def test_hyperminhash_properties_and_accuracy(rng):
    from set_sketch_paper_spark.sketchlib import (
        HyperMinHashEstimator,
        hyperminhash_sketch,
        hyperminhash_sketches_batch,
        merge_hyperminhash,
    )

    bb, bs, sbs = 10, 6, 10  # m=1024
    data = random_u64(rng, 30_000)
    full = hyperminhash_sketch(data, bb, bs, sbs, seed=3)
    a = hyperminhash_sketch(data[:10_000], bb, bs, sbs, seed=3)
    b = hyperminhash_sketch(data[10_000:], bb, bs, sbs, seed=3)
    assert np.array_equal(merge_hyperminhash(a, b), full)
    assert np.array_equal(full, hyperminhash_sketch(data[::-1], bb, bs, sbs, seed=3))

    est = HyperMinHashEstimator(bb, bs, sbs)
    for card in (500, 30_000):
        vals_o, vals_n = [], []
        for s in range(20):
            sk = hyperminhash_sketch(random_u64(rng, card), bb, bs, sbs, seed=s)
            vals_o.append(est.cardinality_original(sk)[0])
            vals_n.append(est.cardinality_new(sk)[0])
        for vals in (vals_o, vals_n):
            rel = abs(np.mean(vals) - card) / card
            assert rel < 0.08, (card, rel)

    # joint: J = 0.5 at union 3000
    inter, diff = 1500, 750
    ests = []
    for s in range(25):
        common = random_u64(rng, inter)
        s1 = hyperminhash_sketch(np.concatenate([common, random_u64(rng, diff)]), bb, bs, sbs, seed=9)
        s2 = hyperminhash_sketch(np.concatenate([common, random_u64(rng, diff)]), bb, bs, sbs, seed=9)
        ests.append(est.joint_new(s1, s2)["jaccard"][0])
    assert abs(np.mean(ests) - 0.5) < 0.05, np.mean(ests)


def test_winnow_udf_matches_naive(spark):
    """Vectorized winnowing UDF == per-document naive implementation."""
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    from set_sketch_paper_spark.config import ShingleConfig
    from set_sketch_paper_spark.functions.textstats_udfs import make_winnow_fingerprint_udf
    from set_sketch_paper_spark.sketchlib.hashing import splitmix64, u64_to_i64
    from set_sketch_paper_spark.sketchlib.shingle import _TOKEN_SALT

    texts = ["", "a", "one two three",
             " ".join(f"t{i%7}" for i in range(40)),
             " ".join(f"u{i}" for i in range(100))]
    sh = ShingleConfig(k=4)
    window = 5
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    udf = make_winnow_fingerprint_udf(sh, window=window)
    got = {r["doc_id"]: sorted(r["fp"]) for r in
           df.select("doc_id", udf("text").alias("fp")).collect()}

    for i, text in enumerate(texts):
        toks = tokenize(text, sh.token_pattern, sh.lowercase)
        th = token_hashes(toks, sh.seed)
        n = len(th)
        if n == 0:
            assert got[i] == []
            continue
        k = min(sh.k, n)
        s = th[: n - k + 1].copy()
        for j in range(1, k):
            s = splitmix64(s ^ _TOKEN_SALT) ^ th[j : n - k + 1 + j]
        s = splitmix64(s)
        if len(s) <= window:
            mins = np.array([s.min()], dtype=np.uint64)
        else:
            mins = np.unique(sliding_window_view(s, window).min(axis=1))
        assert got[i] == sorted(u64_to_i64(np.unique(mins)).tolist()), i


def test_setsketch_matches_direct_naive_form(rng):
    """The chunked / bound-skipping / min-reduced SS1 kernel must be
    bit-identical to the naive per-element construction of the same law:
    x_j = x_min + Exp(a) from the linear hash family, x_{idx0} = x_min,
    level = map(x), register = max over elements."""
    import math

    from set_sketch_paper_spark.sketchlib.hashing import (
        derive_keys,
        lemire_bounded,
        splitmix64,
        u64_to_unit,
    )
    from set_sketch_paper_spark.sketchlib.ghll import geometric_level
    from set_sketch_paper_spark.sketchlib.setsketch import setsketches_batch

    m, base, a, q, seed = 64, 2.0, 20.0, 6, 77
    data = random_u64(rng, 500)
    got, _ = setsketches_batch(data, np.array([0, len(data)]), m, base, a, q, seed)

    keys = derive_keys(seed ^ 0x5E5C, m)
    skey_min = splitmix64(np.array([(seed ^ 0x51E5C) & 0xFFFFFFFFFFFFFFFF], np.uint64))[0]
    skey_idx = splitmix64(np.array([(seed ^ 0x1D35C) & 0xFFFFFFFFFFFFFFFF], np.uint64))[0]
    regs = np.zeros(m, dtype=np.int64)
    for v in data:
        v = np.uint64(v)
        u0 = u64_to_unit(splitmix64(np.array([v ^ skey_min])))[0]
        x_min = -math.log1p(-u0) / (a * m)
        with np.errstate(over="ignore"):
            a_mix = splitmix64(np.array([v ^ np.uint64(0x5E5C_A11C_0000_0001)]))[0]
            b_mix = splitmix64(np.array([v ^ np.uint64(0x5E5C_A11C_0000_0002)]))[0] | np.uint64(1)
            h = a_mix + b_mix * keys
        x = x_min + (-np.log1p(-u64_to_unit(h)) / a)
        idx0 = lemire_bounded(splitmix64(np.array([v ^ skey_idx])), m)[0]
        x[idx0] = x_min
        k = np.where(x > 0.0, geometric_level(x, base, q), float(q + 1)).astype(np.int64)
        regs = np.maximum(regs, k)
    assert np.array_equal(got[0].astype(np.int64), regs)
