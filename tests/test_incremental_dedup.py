"""Incremental (new-batch vs snapshot) dedup operators and the Gopher-style
repetition quality signals.

The incremental operators are the batch analog of the streaming store path
(streaming/stream_dedup.py): per-ingest cost scales with the BATCH, never
the corpus.  Semantics pinned here on constructed frames; the sf0.01 query
twins are gated in tests/test_queries_oracle.py (exact, DuckDB oracle) and
tests/test_cross_consistency.py (near-dup vs the full-corpus pair set).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from set_sketch_paper_spark.operators.dedup import (
    exact_dedup_against_snapshot,
    near_dup_against_snapshot,
)
from set_sketch_paper_spark.operators.textstats import with_repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "content"])


def test_exact_incremental_survivors(spark):
    old = _docs(spark, [(0, "alpha"), (2, "beta")])
    new = _docs(
        spark,
        [
            (1, "alpha"),   # dup of snapshot -> dropped
            (3, "gamma"),   # fresh -> survives
            (5, "gamma"),   # within-batch dup -> folded into 3
            (7, "delta"),   # fresh -> survives
        ],
    )
    out = exact_dedup_against_snapshot(new, old)
    got = {r["doc_id"] for r in out.collect()}
    assert got == {3, 7}
    assert set(out.columns) == {"doc_id", "content_sha"}


def test_exact_incremental_empty_snapshot(spark):
    old = _docs(spark, [(0, "x")]).filter(F.lit(False))
    new = _docs(spark, [(1, "a"), (3, "a"), (5, "b")])
    got = {r["doc_id"] for r in exact_dedup_against_snapshot(new, old).collect()}
    assert got == {1, 5}


def test_near_dup_incremental_never_snapshot_vs_snapshot(spark):
    """Two identical snapshot docs must NOT pair with each other; a new doc
    pairs with its snapshot twin and with its in-batch twin.  Every job the
    call runs, the per-side signature checkpoints included (they run in
    pool threads), carries the caller's job group."""
    from set_sketch_paper_spark.config import (
        LSHConfig, MinHashConfig, PipelineConfig, ShingleConfig,
    )

    pcfg = PipelineConfig(
        shingle=ShingleConfig(k=3),
        minhash=MinHashConfig(num_registers=128, algo="oph"),
        lsh=LSHConfig(num_bands=32, rows_per_band=4, band_cap=500),
        jaccard_threshold=0.5,
    )
    text = "the quick brown fox jumps over the lazy dog again and again ok"
    other = "completely different words about winter mountain snow ice peak cold"
    old = _docs(spark, [(0, text), (2, text), (4, other)])
    new = _docs(spark, [(1, text), (3, text)])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("snapshot_near_dup", "near_dup_against_snapshot")
    try:
        pairs = {
            (r["id1"], r["id2"])
            for r in near_dup_against_snapshot(new, old, pcfg).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup("snapshot_near_dup")) >= 3
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    # every pair involves a new (odd) id
    assert all(i1 % 2 == 1 or i2 % 2 == 1 for i1, i2 in pairs)
    assert (0, 2) not in pairs and (0, 4) not in pairs and (2, 4) not in pairs
    # new-vs-old and new-vs-new identical-text pairs are all found
    assert {(0, 1), (0, 3), (1, 2), (2, 3), (1, 3)} <= pairs


@pytest.mark.parametrize(
    "text,expect",
    [
        # 4 tokens, 3 distinct; bigrams: 'a b','b a','a c' all distinct
        ("a b a c", dict(n_tokens=4, dup_token_q=250_000, top_token_q=500_000,
                         dup_bigram_q=0, top_bigram_q=333_333)),
        # pure repetition: 'x x x x' -> bigrams 'x x' x3
        ("x x x x", dict(n_tokens=4, dup_token_q=750_000, top_token_q=1_000_000,
                         dup_bigram_q=666_667, top_bigram_q=1_000_000)),
        # single token: no bigrams, guarded denominator
        ("solo", dict(n_tokens=1, dup_token_q=0, top_token_q=1_000_000,
                      dup_bigram_q=0, top_bigram_q=0)),
    ],
)
def test_repetition_stats_hand_computed(spark, text, expect):
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    row = with_repetition_stats(df).collect()[0]
    for k, v in expect.items():
        assert row[k] == v, (k, row[k], v)


def test_near_dup_incremental_caps_on_combined_band_size(spark):
    """A boilerplate band whose COMBINED membership exceeds band_cap must be
    dropped even when each side alone is under the cap — per-side capping
    would keep bands the full-corpus path drops and break the
    incremental == restricted-full factorization (code-review regression).
    6 identical docs (3 snapshot + 3 new) with band_cap=4: every band
    bucket has 6 members > 4, so ZERO pairs survive, exactly like
    minhash_near_dup_pairs on the union."""
    from set_sketch_paper_spark.config import (
        LSHConfig, MinHashConfig, PipelineConfig, ShingleConfig,
    )
    from set_sketch_paper_spark.operators.dedup import minhash_near_dup_pairs

    pcfg = PipelineConfig(
        shingle=ShingleConfig(k=3),
        minhash=MinHashConfig(num_registers=128, algo="oph"),
        lsh=LSHConfig(num_bands=32, rows_per_band=4, band_cap=4),
        jaccard_threshold=0.5,
    )
    text = "the quick brown fox jumps over the lazy dog again and again ok"
    old = _docs(spark, [(0, text), (2, text), (4, text)])
    new = _docs(spark, [(1, text), (3, text), (5, text)])
    inc = near_dup_against_snapshot(new, old, pcfg).collect()
    full = minhash_near_dup_pairs(
        old.unionByName(new), pcfg, id_col="doc_id", content_col="content"
    ).collect()
    assert full == []  # combined size 6 > cap 4: full path drops every band
    assert inc == []   # incremental must agree, not resurrect via 3 <= 4
