"""Cached-block hygiene (``functions.blocks``).

localCheckpoint blocks have no lineage, so Spark can never evict-and-
recompute them — anything not explicitly unpersisted lives for the session.
Every site that materializes a block records its RDD id in a ``held`` set it
owns and releases that set once the frame is dead.  These tests pin the id
read itself and its owners: the CC loop (previous round freed as the next is
materialized), the pipeline stage sweep and ``PipelineResult.release_cache``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from set_sketch_paper_spark.config import (
    LSHConfig,
    MinHashConfig,
    PipelineConfig,
    ShingleConfig,
)
from set_sketch_paper_spark.functions.blocks import materialize, release
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


def test_materialize_release_own_exactly_their_block(spark, tmp_path):
    """The block id is read from the checkpointed frame's LogicalRDD node, a
    Spark internal: a Spark whose plan shape differs fails here instead of
    leaking blocks."""
    df = spark.range(100).select("id", (F.col("id") * 2).alias("x"))
    base = _persistent_ids(spark)
    held: set[int] = set()
    out = materialize(df, held)  # kept referenced: no GC-driven cleanup
    assert held == _persistent_ids(spark) - base and len(held) == 1
    other = spark.range(10).localCheckpoint(eager=True)
    other_ids = _persistent_ids(spark) - base - held
    assert release(spark, held) == 1 and held == set()
    assert _persistent_ids(spark) - base == other_ids
    assert other.count() == 10
    assert release(spark, held) == 0
    release(spark, other_ids)
    del out

    spark.sparkContext.setCheckpointDir(str(tmp_path / "rdd_ckpt"))
    before = _persistent_ids(spark)
    assert materialize(df, held, reliable=True).count() == 100
    assert held == set() and not (_persistent_ids(spark) - before)


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
