"""Physical-plan regression tests: the scale-critical plan shapes must not
silently degrade (broadcast joins staying broadcast, top-k staying
TakeOrdered, scans pruning columns, no accidental cartesian products).

These encode the ".explain until it's the plan you'd want" discipline as
assertions, so a refactor that re-introduces a shuffle/cross-join fails CI
rather than a 100x-scale run.
"""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_dim_joins_stay_broadcast(spark):
    plan = _plan(entrymod.queries()["region_customer_counts"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    plan2 = _plan(entrymod.queries()["supplier_nation_acctbal"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan2


def test_top_customers_is_take_ordered(spark):
    """The global-window regression: top-k must plan as TakeOrdered (per-
    partition top-10 + merge), never a single-partition WindowExec."""
    plan = _plan(entrymod.queries()["top_customers_by_spend"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_column_pruning_reaches_scan(spark):
    """token_stats projects 2 of documents' 5 columns; the parquet scan must
    read only what the query needs (ReadSchema pruning)."""
    plan = _plan(entrymod.queries()["doc_quality"](spark, SF_DIR))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan[:1500]
    for ln in scan_lines:
        assert "lang" not in ln and "source" not in ln, ln


def test_no_cartesian_in_scale_paths(spark):
    """Every production-position operator must be join-keyed: no cartesian /
    broadcast-nested-loop anywhere in its plan.  (ann_topk and
    embedding_near_dup_pairs are the documented O(n^2) oracle twins and are
    exempt by design.)"""
    q = entrymod.queries()
    for name in (
        "minhash_near_dup_pairs",
        "lsh_candidates",
        "ngram_jaccard_pairs",
        "lcs_substring_pairs",
        "simhash_pairs",
        "winnow_substring_pairs",
        "ann_lsh_topk",
        "embedding_near_dup_pairs_ann",
        "ghll_distinct_users",
        "user_sessions",
    ):
        plan = _plan(q[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_vocab_topk_plan_shape(spark):
    """Exact top-k vocabulary: TakeOrderedAndProject (no global sort) over a
    partially-aggregated count — exactly one shuffle for the token groupBy."""
    plan = _plan(entrymod.queries()["vocab_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert plan.count("Exchange") == 1, plan[:2000]


def test_signature_udf_evaluated_once(spark):
    """The posexplode_outer fix: the signature pandas UDF must appear exactly
    once in the candidate-pairs plan (the plain posexplode variant evaluated
    it twice via the implicit size>0 filter)."""
    plan = _plan(entrymod.queries()["lsh_candidates"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") <= 1, plan[:2000]


def test_exact_dedup_single_shuffle(spark):
    """exact_dup_groups is one hash aggregate: exactly one Exchange pair
    (partial+final agg), no join."""
    plan = _plan(entrymod.queries()["exact_dup_groups"](spark, SF_DIR))
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 1, plan[:2000]


def test_sketch_distinct_partial_is_partition_bounded(spark):
    """The distinct-count aggregate's partial stage must be a mapInPandas
    over the scan (no pre-shuffle: elements never shuffle, only fixed-size
    partial sketches do), with exactly ONE shuffle — the per-key merge."""
    from pyspark.sql import functions as F

    from set_sketch_paper_spark.config import GHLLConfig
    from set_sketch_paper_spark.operators.sketch_agg import sketch_distinct

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).withColumn(
        "user_hash", F.xxhash64("user_id")
    )
    df = sketch_distinct(ev, ["event_type"], "user_hash", GHLLConfig(num_registers=256, q=62))
    plan = _plan(df)
    assert "MapInPandas" in plan
    # the only exchange is the merge groupBy on the partial sketches
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    # and the map side runs directly over the pruned scan — no salt column
    assert "_salt" not in plan


def test_modality_feature_paths_are_narrow(spark):
    """audio_features / video_frame_stats / multimodal_features are pure
    mapInPandas pipelines over the generated asset partitions: exactly one
    decode UDF stage, NO shuffle (Exchange) anywhere — per-asset decode must
    stay partition-local at any scale."""
    for qname in ("audio_features", "video_frame_stats", "multimodal_features"):
        plan = _plan(entrymod.queries()[qname](spark, SF_DIR))
        assert "Exchange" not in plan, (qname, plan[:1500])
        assert plan.count("MapInPandas") == 2, (qname, plan.count("MapInPandas"))
        # (2 = the synthetic-asset generator + the feature extractor)


def test_incremental_near_dup_no_cartesian(spark):
    """Batch-vs-snapshot near-dup joins only on band_hash / id keys."""
    plan = _plan(entrymod.queries()["incremental_near_dup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_map_only_text_operators_have_no_exchange(spark):
    """doc_repetition and doc_chunks are pure per-row transforms: their
    plans must contain ZERO shuffles (an Exchange here means a refactor
    broke the embarrassingly-parallel property)."""
    q = entrymod.queries()
    for name in ("doc_repetition", "doc_chunks"):
        plan = _plan(q[name](spark, SF_DIR))
        assert "Exchange" not in plan, (name, plan[:1200])


def test_decontamination_probe_side_broadcasts(spark):
    """flag_contaminated: the probe gram set must broadcast; the corpus
    gram stream is map-side and must never sort-merge."""
    plan = _plan(entrymod.queries()["decontaminate_docs"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_has_no_cartesian_beyond_single_row_centroids(spark):
    """ann_ivf_topk: candidate generation is an equi-join on the cell id.
    The only nested-loop joins allowed are the single-row centroid-list
    broadcasts (build side is one collect_list row by construction)."""
    plan = _plan(entrymod.queries()["ann_ivf_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_calibrated_quality_filter_broadcasts_thresholds(spark):
    """The per-lang threshold table must broadcast — a SortMergeJoin here
    would shuffle the whole corpus to join against ~30 rows."""
    plan = _plan(entrymod.queries()["calibrated_quality_filter"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# Exchange count of each pair path's plan, the same at sf0.001, 0.01 and
# 0.1 (lsh.bucket_pairs expansion + lsh.pair_sides id joins).  A change
# that adds a shuffle to a pair path has to move these numbers on purpose.
PAIR_PATH_EXCHANGES = {
    "lsh_candidates": 3,
    "minhash_near_dup_pairs": 7,
    "incremental_near_dup": 4,
    "simhash_pairs": 3,
    "winnow_substring_pairs": 3,
    "lcs_substring_pairs": 12,
}


@pytest.mark.parametrize("name", sorted(PAIR_PATH_EXCHANGES))
def test_pair_path_exchange_counts(spark, name):
    plan = _plan(entrymod.queries()[name](spark, SF_DIR))
    assert plan.count("Exchange") == PAIR_PATH_EXCHANGES[name], plan[:3000]


def test_incremental_near_dup_signs_each_side_once(spark):
    """incremental_near_dup materializes each signed side once: the plan
    keeps only the verification estimator's 1 ArrowEvalPython node.
    Without the per-side checkpoints the signature UDF is planned once per
    read of a side."""
    plan = _plan(entrymod.queries()["incremental_near_dup"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 1, plan[:3000]


@pytest.mark.parametrize("name", ["minhash_near_dup_pairs"])
def test_pair_estimator_evaluated_once(spark, name):
    """verified_pairs evaluates the pair estimator once per candidate.  A
    deterministic estimator UDF gets inlined into the threshold Filter as a
    second evaluation, and every candidate's two signatures cross into
    Python twice."""
    plan = _plan(entrymod.queries()[name](spark, SF_DIR))
    calls = re.findall(r"ArrowEvalPython \[_udf\(sig1#\d+, sig2#\d+", plan)
    assert len(calls) == 1, plan[:3000]
