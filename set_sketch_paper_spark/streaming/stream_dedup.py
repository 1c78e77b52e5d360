"""Structured Streaming dedup operators.

The reference has no streaming runtime (SURVEY.md §2.9); these operators
exist because the sketch merges are commutative/idempotent (sketch.hpp:
1020-1023) and therefore stream-safe: signatures are a stateless map,
exact dedup is dropDuplicatesWithinWatermark, and the full LSH pipeline runs
per micro-batch via foreachBatch against a persistent signature store.

Store layout & recovery semantics: the signature store is a parquet table
partitioned by ``batch_id=N`` subdirectories.  Each micro-batch OVERWRITES
its own partition (idempotent under Structured Streaming's batch replay —
re-running batch N rewrites identical content instead of appending
duplicates), re-ingested doc_ids are anti-joined away against the prior
store, and the store append happens BEFORE pairs are emitted, so a crash
between the two can only under-emit for the replayed batch (which the replay
then re-emits) — never durably emit pairs for signatures the store lost.

Store-path inspection (manifest IO, partition listing) goes through the
Hadoop FileSystem of the session (``functions/store_fs.py``), so any path
scheme works (file://, hdfs://, s3a://, ...); the dataframe reads and
writes themselves were always path-scheme agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..functions.blocks import materialize, release
from ..functions.store_fs import check_or_write_manifest, list_batch_dirs
from ..operators import lsh as lsh_ops
from ..operators.signatures import with_content_sha, with_minhash_signature

STORE_FORMAT = "sig:binary,bands:strided,layout:batch_id-partitions"


def stream_exact_dedup(
    stream: DataFrame,
    content_col: str = "content",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop byte-identical content within the watermark window.

    State is bounded by the watermark (late duplicates beyond it pass
    through — the batch pipeline catches them on the next full run)."""
    hashed = with_content_sha(stream, content_col)
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_sha"]
    )


def check_or_write_store_manifest(store_path: str, pcfg: PipelineConfig, spark) -> None:
    """Refuse to mix signature states produced under different configs.

    The on-wire signature layout (binary vs array) and the band semantics
    (strided assignment, OPH densification) are functions of the pipeline
    config; appending to a store written under a different config_hash would
    silently produce bogus candidate pairs.  Mirrors the reference's merge
    precondition ``assert(config == other.getConfig())`` (sketch.hpp:1021).
    The on-disk layout version is checked too — stores written by the old
    flat-append layout are refused rather than silently misread.
    """
    check_or_write_manifest(
        spark,
        os.path.join(store_path, "_STORE_MANIFEST.json"),
        {"config_hash": pcfg.config_hash(), "format": STORE_FORMAT},
        f"signature store {store_path}",
    )


def read_signature_store(spark, store_path: str, exclude_batch_id=None, schema=None):
    """The store as one DataFrame, or None when empty.  ``exclude_batch_id``
    drops that batch's partition from the listing — essential on recovery
    replay, where a half-written partition for the CURRENT batch may already
    exist and must not feed its own candidate join.  ``schema`` (the signed
    frame's, which the store was written from) skips parquet schema
    inference, a Spark job of its own on every read."""
    parts = list_batch_dirs(spark, store_path, exclude_batch_id)
    if not parts:
        return None
    reader = spark.read.option("basePath", store_path)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*[os.path.join(store_path, p) for p in parts])
    return df.drop("batch_id")


def incremental_candidates(
    new_signed: DataFrame, old_signed: DataFrame, pcfg: PipelineConfig,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs INVOLVING a new id (new-vs-old plus new-vs-new),
    never old-vs-old: exactly the full-corpus candidate set restricted to
    pairs with >= 1 new id.

    Both sides' band members go into ONE ``bucket_pairs`` with a ``_nw``
    flag, so band_cap applies to the COMBINED bucket size, as the
    full-corpus path applies it; a per-side cap would keep buckets the full
    path drops.  Buckets with no new member are skipped before expansion,
    so expansion work scales with the new side's bucket hits.  Ids must be
    disjoint across the two frames (they identify the side).
    Output: distinct (id1 < id2) pairs.
    """
    members = lsh_ops.explode_bands(new_signed, id_col).withColumn("_nw", F.lit(True))
    members = members.unionByName(
        lsh_ops.explode_bands(old_signed, id_col).withColumn("_nw", F.lit(False))
    )
    pairs, _ = lsh_ops.bucket_pairs(members, "band_hash", pcfg.lsh.band_cap, need="_nw")
    return pairs.dropDuplicates(["id1", "id2"])


def foreach_batch_near_dup(pcfg: PipelineConfig, signature_store_path: str,
                           id_col: str = "doc_id", content_col: str = "content",
                           sink=None, verify: bool = False):
    """foreachBatch hook: sketch the micro-batch, append it to the store
    (idempotently, batch-partition overwrite, FIRST), then emit LSH
    candidates of the NEW rows vs the store (incremental — per-batch cost
    scales with batch size, not corpus size).

    Exactly-once store contract: re-running a batch_id overwrites its own
    ``batch_id=N`` partition with identical content (deterministic UDFs);
    doc_ids already present in earlier partitions are anti-joined away, so a
    document re-ingested by a later batch neither duplicates in the store
    nor re-pairs against itself.

    Candidates come from ``incremental_candidates``, the same function
    ``near_dup_against_snapshot`` uses: band_cap applies to each bucket's
    COMBINED size (store members + batch members), so a bucket the batch
    pushes over the cap is dropped, exactly as a full-corpus run drops it.
    ``verify=True`` then runs the batch pipeline's known-cardinality joint
    estimation + threshold (both pair sides' signatures come from the store
    ∪ batch), so the streamed verified pairs are bit-identical to the
    full-corpus verified pairs that involve a batch id.

    ``sink``: optional callable(pairs_df, batch_id) for downstream
    clustering/persistence; defaults to materializing the count.  The sink
    must consume ``pairs_df`` before it returns, as Spark's foreachBatch
    already requires of the batch frame: the handler then frees the
    micro-batch's checkpoint block that ``pairs_df`` reads.

    Usage::

        q = (stream.writeStream.foreachBatch(
                foreach_batch_near_dup(pcfg, "/tmp/sigstore"))
             .start())
    """

    def handle(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        check_or_write_store_manifest(signature_store_path, pcfg, spark)
        signed = (
            with_minhash_signature(batch_df, pcfg, content_col)
            .select(id_col, "sig", "bands", "n_shingles")
            .dropDuplicates([id_col])
        )
        store = read_signature_store(
            spark, signature_store_path, exclude_batch_id=batch_id, schema=signed.schema
        )
        if store is None:  # first batch: pair against an empty store
            store = spark.createDataFrame([], signed.schema)
        # a doc_id the store already holds contributes nothing new — and
        # must not pair against its own stored signature
        signed = signed.join(store.select(id_col), [id_col], "left_anti")
        held: set[int] = set()
        new_only = materialize(signed, held)  # sketch once: reused for append + join
        try:
            # STORE FIRST: overwrite this batch's own partition (idempotent on
            # replay), so emitted pairs always refer to durably stored signatures
            new_only.write.mode("overwrite").parquet(
                os.path.join(signature_store_path, f"batch_id={batch_id}")
            )
            pairs = incremental_candidates(new_only, store, pcfg, id_col)
            if verify:
                from ..functions.udfs import make_minhash_pair_estimator_udf

                est_udf = make_minhash_pair_estimator_udf(pcfg.minhash, "original")
                pairs = lsh_ops.verified_pairs(
                    pairs, new_only.unionByName(store), est_udf,
                    pcfg.jaccard_threshold, id_col=id_col,
                )
            if sink is not None:
                sink(pairs, batch_id)
            else:
                pairs.count()
        finally:
            release(spark, held)

    return handle
