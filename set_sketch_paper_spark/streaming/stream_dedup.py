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
Hadoop FileSystem API via ``spark._jvm`` whenever a session is available —
scheme-agnostic (file://, hdfs://, s3a://, ...), no extra library; the
driver-local ``os.*`` implementations remain as the no-session fallback
(and are what a spark-less unit test exercises).  The dataframe
reads/writes themselves were always path-scheme agnostic.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..functions.blocks import materialize, release
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


def _store_manifest_path(store_path: str) -> str:
    return os.path.join(store_path, "_STORE_MANIFEST.json")


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` through the session's JVM — resolves
    the scheme's filesystem (LocalFileSystem for bare/file:// paths, s3a/
    hdfs/... on clusters) with the session's Hadoop configuration."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _fs_read_text(spark, path: str):
    """File contents as str, or None if absent — Hadoop FS, any scheme."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _fs_write_text(spark, path: str, text: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def check_or_write_store_manifest(
    store_path: str, pcfg: PipelineConfig, spark=None
) -> None:
    """Refuse to mix signature states produced under different configs.

    The on-wire signature layout (binary vs array) and the band semantics
    (strided assignment, OPH densification) are functions of the pipeline
    config; appending to a store written under a different config_hash would
    silently produce bogus candidate pairs.  Mirrors the reference's merge
    precondition ``assert(config == other.getConfig())`` (sketch.hpp:1021).
    The on-disk layout version is checked too — stores written by the old
    flat-append layout are refused rather than silently misread.

    With ``spark``, manifest IO runs through the Hadoop FS API (any path
    scheme); without, through driver-local files (local-path fallback).
    """
    mp = _store_manifest_path(store_path)
    if spark is not None:
        text = _fs_read_text(spark, mp)
        manifest = json.loads(text) if text is not None else None
    elif os.path.exists(mp):
        with open(mp) as f:
            manifest = json.load(f)
    else:
        manifest = None
    if manifest is not None:
        if manifest.get("config_hash") != pcfg.config_hash():
            raise ValueError(
                f"signature store {store_path} was written with config "
                f"{manifest.get('config_hash')}, refusing to append with "
                f"{pcfg.config_hash()}"
            )
        if manifest.get("format") != STORE_FORMAT:
            raise ValueError(
                f"signature store {store_path} has layout "
                f"{manifest.get('format')!r}, this build writes "
                f"{STORE_FORMAT!r} — migrate or start a fresh store"
            )
        return
    body = json.dumps({"config_hash": pcfg.config_hash(), "format": STORE_FORMAT})
    if spark is not None:
        fs, p = _hadoop_fs(spark, store_path)
        fs.mkdirs(p)
        _fs_write_text(spark, mp, body)
    else:
        os.makedirs(store_path, exist_ok=True)
        with open(mp, "w") as f:
            f.write(body)


def _list_batch_dirs(store_path: str, exclude_batch_id=None, spark=None) -> list[str]:
    if spark is not None:
        fs, p = _hadoop_fs(spark, store_path)
        if not fs.exists(p):
            return []
        parts = [
            st.getPath().getName()
            for st in fs.listStatus(p)
            if st.getPath().getName().startswith("batch_id=")
        ]
    elif os.path.isdir(store_path):
        parts = [p for p in os.listdir(store_path) if p.startswith("batch_id=")]
    else:
        return []
    if exclude_batch_id is not None:
        parts = [p for p in parts if p != f"batch_id={exclude_batch_id}"]
    return sorted(parts)


def read_signature_store(spark, store_path: str, exclude_batch_id=None, schema=None):
    """The store as one DataFrame, or None when empty.  ``exclude_batch_id``
    drops that batch's partition from the listing — essential on recovery
    replay, where a half-written partition for the CURRENT batch may already
    exist and must not feed its own candidate join.  ``schema`` (the signed
    frame's, which the store was written from) skips parquet schema
    inference, a Spark job of its own on every read."""
    parts = _list_batch_dirs(store_path, exclude_batch_id, spark=spark)
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
        check_or_write_store_manifest(signature_store_path, pcfg, spark=spark)
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
