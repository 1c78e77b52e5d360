"""Streaming distinct-count tracking with mergeable KMV states.

A foreachBatch hook maintains per-key bottom-k sketches across micro-
batches in the same ``batch_id=N``-partitioned parquet layout as the
signature store (stream_dedup.py module doc).  KMV merge is commutative,
associative AND IDEMPOTENT (bottom-k of a multiset union), which makes the
replay story even simpler than the signature store's: re-running a batch
overwrites its own partition with bit-identical content, and even a
DOUBLE-counted batch cannot change any merged state — so the store needs no
anti-join bookkeeping at all.

Per-batch write cost is O(|keys in batch| * k) regardless of batch row
count (elements never shuffle — operators/kmv.py); the read-time merge is
ONE groupBy over <=k-element arrays.  ``compact_kmv_store`` folds all
partitions into a single base partition when the batch count grows.

Because the sketch state is md5-derived (kmv.py module doc), the merged
store contents remain fully recomputable by an external SQL engine — an
auditor can verify a month of streamed distinct counts from the raw events
with one DuckDB query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..functions.blocks import materialize, release
from ..functions.store_fs import check_or_write_manifest, delete, list_batch_dirs
from ..operators.kmv import kmv_distinct, kmv_merge_col, with_kmv_estimate


def check_or_write_kmv_manifest(
    store_path: str, keys, value_col: str, k: int, spark
) -> None:
    """Refuse mixed-parameter appends: merging states built with different
    (k, value_col, keys) silently corrupts estimates, so the first writer
    pins the config and every later writer must match exactly."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    check_or_write_manifest(
        spark,
        os.path.join(store_path, "_KMV_STORE_MANIFEST.json"),
        {"kind": "kmv_distinct", "k": k, "value_col": value_col, "keys": keys},
        f"KMV store at {store_path}",
    )


def foreach_batch_kmv_distinct(store_path: str, keys, value_col: str, k: int = 256):
    """foreachBatch hook: sketch the micro-batch's per-key distinct values
    and overwrite this batch's own store partition (idempotent on replay).

    Usage::

        q = (stream.writeStream.foreachBatch(
                foreach_batch_kmv_distinct("/path/kmvstore", "event_type",
                                           "user_id"))
             .start())
    """
    keys = [keys] if isinstance(keys, str) else list(keys)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        check_or_write_kmv_manifest(store_path, keys, value_col, k, spark)
        sk = kmv_distinct(batch_df, keys, value_col, k=k)
        sk.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    return handle


def read_kmv_store(spark, store_path: str, keys, k: int) -> DataFrame | None:
    """All batch partitions merged to one state per key (ONE groupBy over
    <=k-element arrays), or None when the store is empty."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    parts = list_batch_dirs(spark, store_path)
    if not parts:
        return None
    df = spark.read.option("basePath", store_path).parquet(
        *[os.path.join(store_path, p) for p in parts]
    ).drop("batch_id")
    return df.groupBy(*keys).agg(kmv_merge_col(F.collect_list("ks"), k).alias("ks"))


def kmv_store_estimates(spark, store_path: str, keys, k: int) -> DataFrame | None:
    """(keys..., n_sk, kth_v, est_q) for the merged store state."""
    merged = read_kmv_store(spark, store_path, keys, k)
    if merged is None:
        return None
    return with_kmv_estimate(merged, k).drop("ks")


def compact_kmv_store(spark, store_path: str, keys, k: int) -> int:
    """Fold all batch partitions into ``batch_id=0``: write the merged state
    over partition 0 FIRST (idempotent-merge makes the store correct even if
    the cleanup below dies — partitions then merely overlap, which KMV
    absorbs), then delete the other partitions.  Returns #partitions
    removed."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    merged = read_kmv_store(spark, store_path, keys, k)
    if merged is None:
        return 0
    # materialize BEFORE overwriting a partition the plan reads from; the
    # block is freed as soon as it is written
    held: set[int] = set()
    ckpt = materialize(merged, held)
    try:
        ckpt.write.mode("overwrite").parquet(
            os.path.join(store_path, "batch_id=0")
        )
    finally:
        release(spark, held)
    stale = list_batch_dirs(spark, store_path, exclude_batch_id=0)
    for part in stale:
        delete(spark, os.path.join(store_path, part))
    return len(stale)
