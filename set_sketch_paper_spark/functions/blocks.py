"""Ownership of localCheckpoint blocks.

A localCheckpoint block has no lineage, so the block manager never evicts
it for space.  Spark's ContextCleaner frees it only after every reference to
its RDD is gone AND a driver JVM GC has run, which an idle driver does every
``spark.cleaner.periodicGC.interval`` (30 min by default): a long-lived
session can pin one block per call for that long.  So each site that makes
one records its RDD id in a ``held`` set it owns, and releases that set once
the frames reading it are dead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def materialize(df: DataFrame, held: set[int], *, reliable: bool = False) -> DataFrame:
    """Eagerly checkpoint ``df``: a reliable checkpoint to the session's
    checkpoint dir (no block), else a localCheckpoint whose RDD id is added
    to ``held``.  The id is read from the result's own LogicalRDD node, so
    blocks made concurrently by other jobs are never attributed to it."""
    if reliable:
        return df.checkpoint(eager=True)
    out = df.localCheckpoint(eager=True)
    held.add(out._jdf.queryExecution().logical().rdd().id())
    return out


def release(spark, held: set[int]) -> int:
    """Unpersist the ids in ``held`` that are still persisted, clear it and
    return how many were freed."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = [rdd for rdd in map(jmap.get, held) if rdd is not None]
    for rdd in rdds:
        rdd.unpersist(False)
    held.clear()
    return len(rdds)
