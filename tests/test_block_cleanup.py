"""Cached-block hygiene for iterative/staged operators (r5).

localCheckpoint blocks have no lineage, so Spark can never evict-and-
recompute them — anything not explicitly unpersisted lives for the session.
These tests pin the three reclamation layers:

1. the CC loop frees each round's blocks as soon as the next round is
   materialized (bounded steady-state memory for long loops),
2. a pipeline stage sweeps everything its build left behind once the stage
   itself is checkpointed,
3. ``PipelineResult.release_cache`` returns the stage blocks themselves,
   restoring the session to its pre-run cache footprint.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from set_sketch_paper_spark.config import (
    LSHConfig,
    MinHashConfig,
    PipelineConfig,
    ShingleConfig,
)
from set_sketch_paper_spark.operators.clustering import _star_components
from set_sketch_paper_spark.plans.pipeline import NearDupPipeline
from set_sketch_paper_spark.sources.synthetic import files_table


def _persistent_ids(spark) -> set[int]:
    """IDs of currently-persisted RDDs.  Tests compare ID SETS, not sizes:
    under the full suite Spark's ContextCleaner asynchronously unpersists
    OTHER tests' dereferenced blocks, so absolute counts drift mid-test
    while the set of ids *this* test introduces does not."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def test_cc_loop_does_not_accumulate_round_blocks(spark):
    # a 64-node path needs several large-star/small-star rounds
    edges = spark.range(63).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    base = _persistent_ids(spark)
    # the loop itself: connected_components would take the single-task
    # union-find path on 63 edges
    labels = _star_components(edges)
    assert labels.filter(F.col("cluster_id") != 0).count() == 0
    # steady state: pinned vertex set + final round's edges (+1 slack);
    # NOT one block set per round
    assert len(_persistent_ids(spark) - base) <= 3


def test_pipeline_stage_sweep_and_release_cache(spark):
    files = files_table(spark, 300, seed=42)
    pcfg = PipelineConfig(
        shingle=ShingleConfig(k=3),
        minhash=MinHashConfig(num_registers=128, algo="oph"),
        lsh=LSHConfig(num_bands=32, rows_per_band=4),
        jaccard_threshold=0.5,
    )
    base = _persistent_ids(spark)
    result = NearDupPipeline(pcfg).run(files, id_cols=("repo", "path", "commit"))
    n_clusters = result.clusters.count()
    assert n_clusters == 300
    # after run(): exactly the 4 stage checkpoints survive (identity,
    # signatures, verified_pairs, clusters — candidates is consumed once
    # and no longer materialized in in-memory mode); CC internals were
    # swept by the clusters stage
    ours = _persistent_ids(spark) - base
    assert len(ours) == 4, ours
    freed = result.release_cache()
    assert freed == 4
    assert not (_persistent_ids(spark) & ours)
    # idempotent
    assert result.release_cache() == 0
