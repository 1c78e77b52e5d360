"""Ownership of localCheckpoint blocks.

A localCheckpoint block has no lineage, so the block manager never evicts
it for space.  Spark's ContextCleaner frees it only after every reference to
its RDD is gone AND a driver JVM GC has run, which an idle driver does every
``spark.cleaner.periodicGC.interval`` (30 min by default): a long-lived
session can pin one block per call for that long.  So each site that makes
one records its RDD id in a ``held`` set it owns, and releases that set once
the frames reading it are dead.  Nothing here reads or writes state the
session shares with other callers (the persistent-RDD map as a whole, the
context's checkpoint dir), so concurrent callers on one session never free
each other's blocks.  ``sever_plan_identity`` re-wraps an executed plan's
rows in a fresh frame, so what reads it reuses that one execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD persisted on the session, whoever made it.  No
    package module calls this: freeing a diff of it would free what other
    callers on the session persisted meanwhile.  It stays for bench.py,
    bench_extra.py and the tests, which own their whole session."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def materialize(df: DataFrame, held: set[int], *, path: str | None = None) -> DataFrame:
    """Eagerly materialize ``df``.  With ``path``, write it there as parquet
    and return a frame reading it back (no block; it survives executor
    loss).  Else localCheckpoint it and add the block's RDD id to ``held``;
    the id is read from the result's own LogicalRDD node, so blocks made
    concurrently by other jobs are never attributed to it."""
    if path:
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.schema(df.schema).parquet(path)
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


def sever_plan_identity(df: DataFrame) -> DataFrame:
    """A fresh frame over the RDD[InternalRow] of ``df``'s own execution.

    The new frame's plan is one LogicalRDD over that RDD, carrying ``df``'s
    statistics (so join planning downstream is unchanged) but none of its
    Dataset bookkeeping; an action on it reruns none of ``df``'s finished
    stages (their shuffle outputs and broadcasts are reused).  It is what
    ``Dataset.checkpoint`` builds, without the checkpoint.  Two uses:

    - the star loop re-wraps each checkpointed round.  Long iterative
      chains of self-joins on checkpointed frames degrade SUPER-LINEARLY
      after ~15 rounds in one session even though the logical plan, RDD
      lineage depth, partition count and row count stay constant; the cost
      sits in driver-side Dataset bookkeeping carried across self-join
      generations (measured: ~2.2x per round from round ~15; a 25-round
      loop goes from 0.4s to 240s per round).  Re-wrapping keeps every
      round at constant cost (the multi-round graphs in
      tests/test_clustering_star.py);
    - ``widen_if_narrow`` sizes an adaptive plan from one execution and
      hands that execution on.

    The re-wrap is JVM-side, with zero Python data movement.  Falls back to
    the unmodified frame if the package-private hooks are unavailable in a
    future Spark."""
    try:
        jvm, jdf, spark = df._sc._jvm, df._jdf, df.sparkSession

        def scala_object(name):
            return getattr(getattr(jvm, name + "$"), "MODULE$")

        plan = scala_object("org.apache.spark.sql.execution.LogicalRDD").fromDataset(
            jdf.queryExecution().toRdd(), jdf, False
        )
        new_jdf = scala_object("org.apache.spark.sql.classic.Dataset").ofRows(
            spark._jsparkSession, plan
        )
        return DataFrame(new_jdf, spark)
    except Exception:  # pragma: no cover - depends on Spark internals
        return df
