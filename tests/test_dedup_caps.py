"""Hot-key skew guards in the exact self-join operators.

Every exact pair operator (n-gram Jaccard, winnowing fingerprints, SimHash
blocks) routes through a capped bucket-expand; these tests plant a hot key
shared by the whole corpus and assert (a) the cap engages — the hot key stops
contributing pairs — and (b) the skipped-key report surfaces it.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from set_sketch_paper_spark.config import LSHConfig, PipelineConfig, ShingleConfig
from set_sketch_paper_spark.operators.dedup import (
    ngram_jaccard_pairs,
    shared_key_pair_counts,
    simhash_near_dup_pairs,
    winnow_substring_pairs,
)

N_DOCS = 12


@pytest.fixture(scope="module")
def hot_docs(spark):
    """Docs that all share one 3-gram ('common boiler plate') but are
    otherwise pairwise-disjoint except docs 0/1, which are near-identical."""
    rows = []
    for i in range(N_DOCS):
        uniq = " ".join(f"tok{i}w{j}" for j in range(8))
        rows.append((i, f"common boiler plate {uniq}"))
    # doc 1 = doc 0 with one extra token -> high exact Jaccard
    rows[1] = (1, rows[0][1] + " extra")
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs_set(df):
    return {(r["id1"], r["id2"]) for r in df.collect()}


def test_shared_key_pair_counts_cap_and_report(spark):
    # key 100 hits every id (hot), key 200 hits ids 0 and 1 only
    rows = [(i, 100) for i in range(N_DOCS)] + [(0, 200), (1, 200)]
    exploded = spark.createDataFrame(rows, "_id long, g long")
    uncapped = shared_key_pair_counts(exploded, key_cap=N_DOCS)
    assert len(_pairs_set(uncapped)) == N_DOCS * (N_DOCS - 1) // 2
    capped, skipped = shared_key_pair_counts(
        exploded, key_cap=N_DOCS - 1, with_skipped=True
    )
    assert _pairs_set(capped) == {(0, 1)}
    skipped_rows = skipped.collect()
    assert [(r["g"], r["bucket_size"]) for r in skipped_rows] == [(100, N_DOCS)]


def test_ngram_gram_cap_engages(hot_docs):
    # uncapped: the shared hot gram makes every doc pair share >= 1 gram
    loose = ngram_jaccard_pairs(
        hot_docs, k=3, threshold_num=0, threshold_den=1, min_shared=1,
        gram_cap=N_DOCS,
    )
    assert len(_pairs_set(loose)) == N_DOCS * (N_DOCS - 1) // 2
    # capped below corpus size: only the genuinely-overlapping 0/1 pair
    # survives; grams unique to the planted near-dup pair are unaffected
    capped = ngram_jaccard_pairs(
        hot_docs, k=3, threshold_num=0, threshold_den=1, min_shared=1,
        gram_cap=N_DOCS - 1,
    )
    assert _pairs_set(capped) == {(0, 1)}


def test_ngram_cap_default_preserves_exactness(hot_docs):
    """With the cap above corpus max frequency, results are the exact
    uncapped n-gram Jaccard (oracle parity path)."""
    a = ngram_jaccard_pairs(hot_docs, k=3, threshold_num=1, threshold_den=2)
    b = ngram_jaccard_pairs(
        hot_docs, k=3, threshold_num=1, threshold_den=2, gram_cap=N_DOCS
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_winnow_fp_cap_engages(hot_docs):
    # k=2 shingles: the 3-token shared prefix yields >= 1 identical k-gram
    # hash at the same position in every doc, so the window-min fingerprint
    # over the prefix region is corpus-wide hot
    pcfg_shingle = ShingleConfig(k=2)
    loose = winnow_substring_pairs(
        hot_docs, pcfg_shingle, window=2, min_shared=1, fp_cap=N_DOCS
    )
    capped = winnow_substring_pairs(
        hot_docs, pcfg_shingle, window=2, min_shared=1, fp_cap=N_DOCS - 1
    )
    loose_pairs, capped_pairs = _pairs_set(loose), _pairs_set(capped)
    # the boilerplate-fingerprint pairs disappear; the real near-dup stays
    assert capped_pairs <= loose_pairs
    assert (0, 1) in capped_pairs
    # everything-matches-everything is gone once the hot fingerprint is capped
    assert len(capped_pairs) < len(loose_pairs)


def test_simhash_block_cap_engages(spark):
    """Plant byte-identical docs (hamming 0 — all blocks collide) plus one
    outlier; capping blocks below the clique size removes all pairs."""
    rows = [(i, "identical content for simhash clique test") for i in range(8)]
    rows.append((99, "totally different words entirely unrelated text here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pcfg = PipelineConfig(
        shingle=ShingleConfig(k=2),
        lsh=LSHConfig(num_bands=32, rows_per_band=4),
    )
    loose = simhash_near_dup_pairs(docs, pcfg, hamming_threshold=3, block_cap=8)
    assert _pairs_set(loose) == set(itertools.combinations(range(8), 2))
    capped = simhash_near_dup_pairs(docs, pcfg, hamming_threshold=3, block_cap=7)
    assert _pairs_set(capped) == set()


def test_lsh_hot_band_salt_mode(spark):
    """hot_mode='salt': oversized bands are split into hash-salted
    sub-buckets instead of dropped — bounded pair expansion, partial
    within-band recall, cold bands unaffected."""
    from pyspark.sql import functions as F

    from set_sketch_paper_spark.operators.lsh import candidate_pairs

    HOT, COLD = 7_000_001, 4_000_001
    rows = [(i, [HOT]) for i in range(12)] + [(20, [COLD]), (21, [COLD])]
    df = spark.createDataFrame(rows, "file_id long, bands array<long>")
    lsh_cfg = LSHConfig(num_bands=1, rows_per_band=1, band_cap=4)

    dropped, skipped = candidate_pairs(df, lsh_cfg, with_skipped=True, hot_mode="drop")
    assert _pairs_set(dropped) == {(20, 21)}
    assert [r["bucket_size"] for r in skipped.collect()] == [12]

    salted = candidate_pairs(df, lsh_cfg, hot_mode="salt")
    got = _pairs_set(salted)
    assert (20, 21) in got
    hot_pairs = got - {(20, 21)}
    assert hot_pairs  # the hot band now contributes bounded sub-bucket pairs
    # every hot pair must share the deterministic salt (ceil(12/4)=3 groups)
    salt_of = {
        r["file_id"]: r["s"]
        for r in df.select(
            "file_id", F.pmod(F.xxhash64("file_id"), F.lit(3)).alias("s")
        ).collect()
    }
    for a, b in hot_pairs:
        assert salt_of[a] == salt_of[b], (a, b)
    # bounded: strictly fewer pairs than the uncapped 12*11/2
    assert len(hot_pairs) < 66
    with pytest.raises(ValueError):
        candidate_pairs(df, lsh_cfg, hot_mode="bogus")


def test_ngram_qlo_prefilter_edge_inputs(spark):
    """The r6 ids-only candidate aggregate prefilters on qlo =
    min(prefix_q, min-doc tau) before the exact per-pair count filter.
    Pin the degenerate inputs around that scalar: an empty corpus (the
    min aggregate returns no tau — qlo falls back without error), a
    single doc, and a corpus of tiny docs where tau < prefix_q so qlo
    collapses below the prefix_q default."""
    from set_sketch_paper_spark.operators.dedup import ngram_jaccard_pairs

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_jaccard_pairs(empty).count() == 0

    one = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    assert ngram_jaccard_pairs(one).count() == 0

    # tiny docs: 4 tokens -> 2 distinct 3-grams -> tau = 1 < prefix_q = 5;
    # the identical pair must survive the qlo-relaxed count path
    tiny = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "w x y z")], ["doc_id", "text"]
    )
    rows = {(r["id1"], r["id2"]): r["jaccard_q"] for r in ngram_jaccard_pairs(tiny).collect()}
    assert rows == {(1, 2): 1_000_000}


CAP = 6


@pytest.fixture(scope="module")
def membership(spark):
    """Random (g, _id, pl, fl) membership table plus two planted buckets at
    the cap boundary, on ids no random row uses: key 900 holds exactly CAP
    members (ids 100..), key 901 CAP + 1 (ids 200..).
    ``pl`` is a per-membership payload (g * 1000 + _id, so its id is
    recoverable), ``fl`` a boolean member flag."""
    import numpy as np
    import pandas as pd

    rs = np.random.RandomState(7)
    rows = {(int(g), int(i)) for g, i in zip(rs.randint(0, 60, 240), rs.randint(0, 24, 240))}
    rows |= {(900, 100 + i) for i in range(CAP)} | {(901, 200 + i) for i in range(CAP + 1)}
    pdf = pd.DataFrame(sorted(rows), columns=["g", "_id"])
    pdf["pl"] = pdf["g"] * 1000 + pdf["_id"]
    pdf["fl"] = pdf["_id"] % 3 == 0
    return pdf, spark.createDataFrame(pdf, "g long, _id long, pl long, fl boolean")


def _brute_bucket_pairs(pdf, cap, payload=None, need=None):
    """pandas twin: per-bucket i<j pairs (one row per shared bucket)."""
    from collections import Counter

    pairs, skipped = Counter(), []
    for g, grp in pdf.groupby("g"):
        if len(grp) > cap:
            skipped.append((g, len(grp)))
            continue
        for a, b in itertools.combinations(grp.to_dict("records"), 2):
            lo, hi = sorted((a, b), key=lambda r: r["_id"])
            if need and not (lo[need] or hi[need]):
                continue
            pairs[(lo["_id"], hi["_id"]) + ((lo[payload], hi[payload]) if payload else ())] += 1
    return pairs, sorted(skipped)


@pytest.mark.parametrize(
    "payload,need", [(None, None), ("pl", None), (None, "fl")], ids=["plain", "payload", "need"]
)
def test_bucket_pairs_matches_brute_force(membership, payload, need):
    """bucket_pairs == its pandas twin, row multiplicity included, in the
    three shapes its callers use: plain, with a payload, with a need flag."""
    from collections import Counter

    from set_sketch_paper_spark.operators.lsh import bucket_pairs

    pdf, df = membership
    pairs, skipped = bucket_pairs(df, "g", CAP, payload=payload, need=need)
    got = Counter(tuple(r) for r in pairs.collect())
    want, want_skipped = _brute_bucket_pairs(pdf, CAP, payload, need)
    assert got == want
    assert sorted(map(tuple, skipped.collect())) == want_skipped
    # cap boundary: the size-CAP bucket expands, the size-(CAP+1) one is
    # reported and emits nothing
    assert (901, CAP + 1) in want_skipped and (900, CAP) not in want_skipped
    ids = {k[:2] for k in got}
    if need is None:
        assert set(itertools.combinations(range(100, 100 + CAP), 2)) <= ids
    assert not any(k[0] >= 200 for k in ids)
    # per-bucket multiplicity: some pair shares >= 2 buckets and appears
    # once per bucket (what shared_key_pair_counts counts)
    assert max(Counter(k[:2] for k in got.elements()).values()) >= 2
    if payload:  # p1 belongs to id1, p2 to id2
        assert all(k[2] % 1000 == k[0] and k[3] % 1000 == k[1] for k in got)
    if need:
        flagged = set(pdf.loc[pdf["fl"], "_id"])
        assert all(k[0] in flagged or k[1] in flagged for k in got)


@pytest.mark.parametrize("key", ["_id", "ids", "bucket_size"])
def test_bucket_pairs_rejects_internal_key_names(spark, key):
    """A key named like one of bucket_pairs' internal member/bucket columns
    is refused by name instead of silently regrouping or overwriting."""
    from set_sketch_paper_spark.operators.lsh import bucket_pairs

    df = spark.createDataFrame([(1, 2)], schema=f"{key} long, v long")
    with pytest.raises(ValueError, match=key):
        bucket_pairs(df, key, 10)


@pytest.mark.parametrize(
    "col,pair_cols",
    [("id", "id1 long, id2 long"), ("x", "id1 long, id2 long, x1 long")],
    ids=["join_key", "taken"],
)
def test_pair_sides_rejects_clashing_columns(spark, col, pair_cols):
    """A side column whose <col>1/<col>2 name is a join key or already on
    the pairs frame is refused by name, not left ambiguous."""
    from set_sketch_paper_spark.operators.lsh import pair_sides

    pairs = spark.createDataFrame([tuple(range(len(pair_cols.split(","))))], pair_cols)
    table = spark.createDataFrame([(0, 5)], f"doc_id long, {col} long")
    with pytest.raises(ValueError, match=repr(col)):
        pair_sides(pairs, table, "doc_id", [col])


def test_with_minhash_signature_rejects_internal_column_name(spark):
    """A caller column named like the signature UDF's internal struct column
    is refused by name instead of being overwritten and then dropped."""
    from set_sketch_paper_spark.operators.signatures import with_minhash_signature

    df = spark.createDataFrame([(1, "a b c", 7)], "doc_id long, content string, _sig_struct long")
    with pytest.raises(ValueError, match="_sig_struct"):
        with_minhash_signature(df, PipelineConfig())
