"""Cached-block hygiene (``functions.blocks``).

localCheckpoint blocks have no lineage, so Spark can never evict-and-
recompute them — anything not explicitly unpersisted lives for the session.
Every site that materializes a block records its RDD id in a ``held`` set it
owns and releases that set once the frame is dead; nothing diffs the
session's persistent-RDD map, which other callers share.  These tests pin
the id read itself and its owners: the CC loop (previous round freed as the
next is materialized, the last blocks handed to the caller's ``held``),
``PipelineResult.release_cache``, and concurrent callers on one session,
which must not free each other's blocks.
"""

from __future__ import annotations

import dataclasses
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from set_sketch_paper_spark.config import (
    LSHConfig,
    MinHashConfig,
    PipelineConfig,
    ShingleConfig,
)
from set_sketch_paper_spark.functions.blocks import materialize, release
from set_sketch_paper_spark.operators import clustering
from set_sketch_paper_spark.operators.clustering import _star_components
from set_sketch_paper_spark.plans import pipeline
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

    # with a path: parquet written there and read back, no block
    before = _persistent_ids(spark)
    back = materialize(df, held, path=str(tmp_path / "m"))
    assert sorted(map(tuple, back.collect())) == [(i, 2 * i) for i in range(100)]
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


PCFG = PipelineConfig(
    shingle=ShingleConfig(k=3),
    minhash=MinHashConfig(num_registers=128, algo="oph"),
    lsh=LSHConfig(num_bands=32, rows_per_band=4),
    jaccard_threshold=0.5,
)


def _run_labels(files, pcfg=PCFG) -> list[tuple]:
    result = NearDupPipeline(pcfg).run(files)
    labels = sorted(map(tuple, result.clusters.collect()))
    result.release_cache()
    return labels


@pytest.fixture(scope="module")
def files300(spark):
    return files_table(spark, 300, seed=42)


@pytest.fixture(scope="module")
def serial_labels(files300):
    """The 300-file corpus's labels from one run with the session to itself
    (its 92 edges take the union-find fast path)."""
    labels = _run_labels(files300)
    assert len(labels) == 300
    return labels


def test_pipeline_release_cache(spark, files300, serial_labels, tmp_path, monkeypatch):
    # the star loop runs inside the pipeline: its blocks must reach the
    # pipeline's own held set, not linger or be swept from the session
    monkeypatch.setattr(clustering, "SMALL_GRAPH_EDGES", 0)
    base = _persistent_ids(spark)
    result = NearDupPipeline(PCFG).run(files300)
    assert sorted(map(tuple, result.clusters.collect())) == serial_labels
    # after run(): exactly the 4 stage checkpoints survive (identity,
    # signatures, verified_pairs, clusters — candidates is consumed once
    # and not materialized in in-memory mode); the loop's vertex set and
    # last round were released once the clusters stage was checkpointed
    ours = _persistent_ids(spark) - base
    assert len(ours) == 4, ours
    freed = result.release_cache()
    assert freed == 4
    assert not (_persistent_ids(spark) & ours)
    # idempotent
    assert result.release_cache() == 0

    # with a checkpoint dir the loop's rounds are parquet under it, deleted
    # once the clusters stage has persisted its own; the context-wide
    # checkpoint dir is never touched
    ckpt_dir = spark.sparkContext.getCheckpointDir()
    pcfg = dataclasses.replace(PCFG, checkpoint_dir=str(tmp_path / "ckpt"))
    deleted = []
    real_delete = pipeline.delete
    monkeypatch.setattr(
        pipeline, "delete", lambda s, path: deleted.append((path, real_delete(s, path)))
    )
    assert _run_labels(files300, pcfg) == serial_labels
    # True: the rounds were there to delete
    assert deleted == [(str(tmp_path / "ckpt" / "_cc"), True)]
    assert not (tmp_path / "ckpt" / "_cc").exists()
    assert (tmp_path / "ckpt" / "clusters").is_dir()
    assert spark.sparkContext.getCheckpointDir() == ckpt_dir


def _own_blocks_loop(spark, stop: threading.Event) -> int:
    """Make and re-count this caller's own localCheckpoint blocks until
    ``stop``; a count fails if anyone else freed one.  Returns the number
    of blocks made."""
    live: list[tuple[set[int], object]] = []
    made = 0
    try:
        while not stop.is_set() or not made:
            held: set[int] = set()
            live.append((held, materialize(spark.range(10), held)))
            made += 1
            for _, frame in live:
                assert frame.count() == 10
            if len(live) > 4:
                release(spark, live.pop(0)[0])
    finally:
        for held, _ in live:
            release(spark, held)
    return made


def test_concurrent_callers_free_only_their_own_blocks(spark, files300, serial_labels):
    """Callers share one session: a pipeline beside another caller's blocks,
    then two pipelines at once.  Each result equals its serial run, and no
    caller loses a block to another."""
    stop = threading.Event()
    with ThreadPoolExecutor(2) as pool:
        other = pool.submit(_own_blocks_loop, spark, stop)
        try:
            assert _run_labels(files300) == serial_labels
        finally:
            stop.set()
        assert other.result() > 0

        runs = [pool.submit(_run_labels, files300) for _ in range(2)]
        assert [r.result() for r in runs] == [serial_labels] * 2
