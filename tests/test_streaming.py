"""Structured Streaming: incremental near-dup detection and windowed
aggregation with watermarks.

The sketch merge is commutative/idempotent (sketch.hpp:1020-1023), so
signatures are a stateless map and the streaming path reuses the batch UDF
bit-for-bit (streaming/stream_dedup.py).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from set_sketch_paper_spark.config import (
    LSHConfig,
    MinHashConfig,
    PipelineConfig,
    ShingleConfig,
)
from set_sketch_paper_spark.operators.signatures import with_minhash_signature
from set_sketch_paper_spark.sources.synthetic import files_pandas
from set_sketch_paper_spark.streaming.stream_dedup import foreach_batch_near_dup


PCFG = PipelineConfig(
    shingle=ShingleConfig(k=3),
    minhash=MinHashConfig(num_registers=128, algo="oph"),
    lsh=LSHConfig(num_bands=32, rows_per_band=4, band_cap=500),
    jaccard_threshold=0.5,
)


def _wait(q, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        q.processAllAvailable()
        return
    raise TimeoutError


def test_stream_signatures_match_batch(spark, tmp_path):
    """File-source stream through the signature UDF == batch signatures."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = files_pandas(200, seed=42)
    batch_df = spark.createDataFrame(pdf)
    batch_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    signed_stream = with_minhash_signature(stream, PCFG).select(
        "row_id", "sig", "n_shingles"
    )
    out = str(tmp_path / "out")
    q = (
        signed_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["row_id"]: (bytes(r["sig"]), r["n_shingles"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["row_id"]: (bytes(r["sig"]), r["n_shingles"])
        for r in with_minhash_signature(batch_df, PCFG)
        .select("row_id", "sig", "n_shingles")
        .collect()
    }
    assert got == want


def test_foreach_batch_incremental_near_dup(spark, tmp_path):
    """Micro-batched corpus arrival: candidates of new rows vs the growing
    signature store accumulate to the batch result."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    store = str(tmp_path / "store")
    pdf = files_pandas(400, seed=42)
    half1, half2 = pdf.iloc[:200], pdf.iloc[200:]
    spark.createDataFrame(half1).write.mode("append").parquet(src)

    schema = spark.createDataFrame(pdf).schema
    stream = spark.readStream.schema(schema).parquet(src)
    stream = stream.withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    ).withColumnRenamed("content", "content")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_near_dup(PCFG, store, id_col="doc_id", content_col="content")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # second tranche arrives; new stream run (availableNow) picks it up
    spark.createDataFrame(half2).write.mode("append").parquet(src)
    q2 = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .writeStream.foreachBatch(
            foreach_batch_near_dup(PCFG, store, id_col="doc_id", content_col="content")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)

    # signature store now covers the full corpus exactly once per row
    n_store = spark.read.parquet(store).select("doc_id").distinct().count()
    assert n_store == 400


def test_incremental_candidates_equal_batch_vs_all(spark, tmp_path):
    """Incrementality contract: candidates emitted for a micro-batch are
    EXACTLY the full-corpus candidate pairs that involve a new id — the
    batch never re-derives store-vs-store pairs (per-batch work scales with
    batch size, not store size).  band_cap=2 makes buckets cross the cap
    only once the batch's members join the store's."""
    import dataclasses

    from set_sketch_paper_spark.operators import lsh as lsh_ops
    from set_sketch_paper_spark.streaming.stream_dedup import incremental_candidates

    pdf = files_pandas(400, seed=42)
    full = (
        spark.createDataFrame(pdf)
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .select("doc_id", "content")
    )
    signed_all = (
        with_minhash_signature(full, PCFG)
        .select("doc_id", "sig", "bands", "n_shingles")
        .localCheckpoint()
    )
    store = signed_all.filter(F.xxhash64("doc_id") % 4 != 0)
    batch = signed_all.filter(F.xxhash64("doc_id") % 4 == 0)
    new_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert 50 < len(new_ids) < 150

    for band_cap in (500, 2):
        pcfg = dataclasses.replace(PCFG, lsh=dataclasses.replace(PCFG.lsh, band_cap=band_cap))
        got = {
            (r["id1"], r["id2"])
            for r in incremental_candidates(batch, store, pcfg, id_col="doc_id").collect()
        }
        all_pairs = {
            (r["id1"], r["id2"])
            for r in lsh_ops.candidate_pairs(signed_all, pcfg.lsh, id_col="doc_id").collect()
        }
        want = {p for p in all_pairs if p[0] in new_ids or p[1] in new_ids}
        assert got == want, band_cap
        # and the store-only pairs were NOT recomputed
        assert all(p[0] in new_ids or p[1] in new_ids for p in got)


def test_streamed_verified_pairs_equal_batch(spark, tmp_path):
    """verify=True: the union of per-batch verified pairs over all tranches
    equals the batch pipeline's verified pairs on the full corpus, with
    bit-identical est_jaccard (each pair is emitted by the tranche that
    delivers its later member; the estimator call is the same numpy path)."""
    from set_sketch_paper_spark.operators.dedup import minhash_near_dup_pairs
    from set_sketch_paper_spark.streaming.stream_dedup import foreach_batch_near_dup

    pdf = files_pandas(300, seed=42)
    full = (
        spark.createDataFrame(pdf)
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .select("doc_id", "content")
        .localCheckpoint()
    )
    want = {
        (r["id1"], r["id2"]): r["est_jaccard"]
        for r in minhash_near_dup_pairs(full, PCFG).collect()
    }
    assert want  # the synthetic corpus plants near-dups

    store = str(tmp_path / "vstore")
    got: dict = {}

    def sink(pairs_df, batch_id):
        for r in pairs_df.collect():
            got[(r["id1"], r["id2"])] = r["est_jaccard"]

    handle = foreach_batch_near_dup(
        PCFG, store, id_col="doc_id", content_col="content",
        sink=sink, verify=True,
    )
    tranche1 = full.filter(F.xxhash64("doc_id") % 3 == 0)
    tranche2 = full.filter(F.xxhash64("doc_id") % 3 != 0)
    handle(tranche1, 0)
    handle(tranche2, 1)
    assert got == want


def test_incremental_store_hot_band_capped(spark):
    """A boilerplate band whose COMBINED (store + batch) membership exceeds
    band_cap is excluded from the incremental pairs (same skew guard as the
    batch path): hot in the store alone, and hot only once the batch's
    members join."""
    import dataclasses

    from set_sketch_paper_spark.streaming.stream_dedup import incremental_candidates

    hot, cold = 7777, 4242
    # (store ids in the hot band, batch ids in the hot band, band_cap)
    for store_hot, batch_hot, cap in ((range(10), [100], 5), (range(3), [100, 102], 4)):
        pcfg = dataclasses.replace(PCFG, lsh=dataclasses.replace(PCFG.lsh, band_cap=cap))
        store = spark.createDataFrame(
            [(i, [hot]) for i in store_hot] + [(50, [cold])],
            "doc_id long, bands array<long>",
        )
        batch = spark.createDataFrame(
            [(i, [hot]) for i in batch_hot] + [(101, [cold])],
            "doc_id long, bands array<long>",
        )
        got = {
            (r["id1"], r["id2"])
            for r in incremental_candidates(batch, store, pcfg, id_col="doc_id").collect()
        }
        # the hot band contributes nothing; the cold band pairs
        assert got == {(50, 101)}, (len(store_hot), len(batch_hot), cap)


def test_foreach_batch_equals_snapshot_path_on_capped_bucket(spark, tmp_path, monkeypatch):
    """Five identical texts (3 stored + 2 new) with band_cap=4: every band
    bucket holds 5 > 4 members, so the handler drops it exactly as
    near_dup_against_snapshot does; a twin pair beside it (1 stored + 1
    new) is emitted by both with the same estimate.  The handler reads the
    store with the signed frame's schema, so that read runs no Spark job
    (no parquet schema inference)."""
    import dataclasses

    from set_sketch_paper_spark.operators.dedup import near_dup_against_snapshot
    from set_sketch_paper_spark.streaming import stream_dedup

    sc = spark.sparkContext
    real_read, reads = stream_dedup.read_signature_store, []

    def labelled_read(*args, **kwargs):
        sc.setJobGroup("store_read", "signature store read")
        try:
            out = real_read(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        reads.append(out is not None)
        return out

    monkeypatch.setattr(stream_dedup, "read_signature_store", labelled_read)
    pcfg = dataclasses.replace(PCFG, lsh=dataclasses.replace(PCFG.lsh, band_cap=4))
    hot = "the quick brown fox jumps over the lazy dog again and again ok"
    twin = "completely different words about winter mountain snow ice peak cold"
    old = spark.createDataFrame(
        [(0, hot), (2, hot), (4, hot), (6, twin)], "doc_id long, content string"
    )
    new = spark.createDataFrame([(1, hot), (3, hot), (7, twin)], "doc_id long, content string")
    emitted: dict = {}

    def sink(pairs_df, batch_id):
        emitted[batch_id] = {(r["id1"], r["id2"]): r["est_jaccard"] for r in pairs_df.collect()}

    handle = foreach_batch_near_dup(pcfg, str(tmp_path / "cstore"), sink=sink, verify=True)
    handle(old, 0)
    handle(new, 1)
    want = {
        (r["id1"], r["id2"]): r["est_jaccard"]
        for r in near_dup_against_snapshot(new, old, pcfg).collect()
    }
    assert set(want) == {(6, 7)}
    assert emitted[1] == want

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert reads == [False, True]
    assert list(sc.statusTracker().getJobIdsForGroup("store_read")) == []


def test_store_manifest_refuses_config_mismatch(spark, tmp_path):
    import dataclasses

    import pytest as _pytest

    from set_sketch_paper_spark.streaming.stream_dedup import (
        check_or_write_store_manifest,
    )

    store = str(tmp_path / "mstore")
    check_or_write_store_manifest(store, PCFG, spark)
    check_or_write_store_manifest(store, PCFG, spark)  # same config: fine
    other = dataclasses.replace(PCFG, jaccard_threshold=0.9)
    with _pytest.raises(ValueError, match="refusing to append"):
        check_or_write_store_manifest(store, other, spark)


def test_windowed_agg_with_watermark(spark, tmp_path):
    """events-style stream: tumbling-window count with a watermark (late
    rows beyond the watermark dropped) equals the batch windowed count."""
    import pandas as pd

    src = str(tmp_path / "ev")
    os.makedirs(src)
    rows = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:05", "2026-01-01 00:00:15",
                 "2026-01-01 00:00:25", "2026-01-01 00:00:35",
                 "2026-01-01 00:00:36", "2026-01-01 00:01:40"]
            ),
            "event_type": ["a", "a", "b", "a", "b", "a"],
        }
    )
    bdf = spark.createDataFrame(rows)
    bdf.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(bdf.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "30 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt")
    )
    out = str(tmp_path / "ev_out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["w_start"]), r["event_type"]): r["cnt"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (str(r["w_start"]), r["event_type"]): r["cnt"]
        for r in bdf.groupBy(F.window("ts", "30 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt")
        .collect()
        # the final window may be held back by the watermark in append mode;
        # compare on the windows the stream emitted
        if (str(r["w_start"]), r["event_type"]) in got
    }
    assert got == want
    assert len(got) >= 2


def test_stream_exact_dedup_within_watermark(spark, tmp_path):
    """Byte-identical content arriving within the watermark window is
    dropped; distinct content flows through."""
    import pandas as pd

    from set_sketch_paper_spark.streaming.stream_dedup import stream_exact_dedup

    src = str(tmp_path / "dsrc")
    os.makedirs(src)
    rows = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:01", "2026-01-01 00:00:02",
                 "2026-01-01 00:00:03", "2026-01-01 00:00:04"]
            ),
            "doc_id": [1, 2, 3, 4],
            "content": ["alpha beta", "alpha beta", "gamma", "alpha beta"],
        }
    )
    bdf = spark.createDataFrame(rows)
    bdf.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(bdf.schema).parquet(src)
    deduped = stream_exact_dedup(stream, content_col="content", ts_col="ts",
                                 watermark="10 minutes")
    out = str(tmp_path / "dout")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    contents = sorted(r["content"] for r in got.collect())
    assert contents == ["alpha beta", "gamma"]


def test_foreach_batch_replay_idempotent(spark, tmp_path):
    """Structured Streaming recovery replays a micro-batch with the same
    batch_id: the store must end up with each signature exactly once and the
    replayed batch must emit the identical pair set."""
    from set_sketch_paper_spark.streaming.stream_dedup import foreach_batch_near_dup

    pdf = files_pandas(200, seed=42)
    full = (
        spark.createDataFrame(pdf)
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .select("doc_id", "content")
        .localCheckpoint()
    )
    store = str(tmp_path / "rstore")
    emitted: dict = {}

    def sink(pairs_df, batch_id):
        emitted.setdefault(batch_id, []).append(
            {(r["id1"], r["id2"]) for r in pairs_df.collect()}
        )

    handle = foreach_batch_near_dup(
        PCFG, store, id_col="doc_id", content_col="content", sink=sink
    )
    t1 = full.filter(F.xxhash64("doc_id") % 2 == 0)
    t2 = full.filter(F.xxhash64("doc_id") % 2 != 0)
    handle(t1, 0)
    handle(t2, 1)
    handle(t2, 1)  # recovery replay of batch 1
    stored = spark.read.parquet(store).select("doc_id").collect()
    ids = [r["doc_id"] for r in stored]
    assert len(ids) == len(set(ids)) == full.count()
    # the replay emitted exactly the same pairs as the original run
    assert emitted[1][0] == emitted[1][1]


def test_foreach_batch_reingested_ids_not_duplicated(spark, tmp_path):
    """A later batch re-delivering already-stored doc_ids must not duplicate
    them in the store nor pair a document against its own stored signature,
    and the handler frees its per-batch checkpoint block."""
    from set_sketch_paper_spark.functions.blocks import persistent_rdd_ids
    from set_sketch_paper_spark.streaming.stream_dedup import foreach_batch_near_dup

    pdf = files_pandas(150, seed=42)
    full = (
        spark.createDataFrame(pdf)
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .select("doc_id", "content")
        .localCheckpoint()
    )
    store = str(tmp_path / "istore")
    pairs_by_batch: dict = {}

    def sink(pairs_df, batch_id):
        pairs_by_batch[batch_id] = {
            (r["id1"], r["id2"]) for r in pairs_df.collect()
        }

    handle = foreach_batch_near_dup(
        PCFG, store, id_col="doc_id", content_col="content", sink=sink
    )
    t1 = full.filter(F.xxhash64("doc_id") % 2 == 0)
    before = persistent_rdd_ids(spark)
    handle(t1, 0)
    handle(full, 1)  # batch 1 re-delivers all of t1 plus the new half
    assert not (persistent_rdd_ids(spark) - before)
    ids = [r["doc_id"] for r in spark.read.parquet(store).select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == full.count()
    for i1, i2 in pairs_by_batch[1]:
        assert i1 != i2
    # batch 1's pairs involve at least one genuinely-new id
    t1_ids = {r["doc_id"] for r in t1.select("doc_id").collect()}
    new_ids = set(ids) - t1_ids
    assert all(i1 in new_ids or i2 in new_ids for i1, i2 in pairs_by_batch[1])


def test_store_manifest_refuses_old_layout(spark, tmp_path):
    import json as _json

    import pytest as _pytest

    from set_sketch_paper_spark.streaming.stream_dedup import (
        check_or_write_store_manifest,
    )

    store = str(tmp_path / "oldstore")
    os.makedirs(store)
    with open(os.path.join(store, "_STORE_MANIFEST.json"), "w") as f:
        _json.dump({"config_hash": PCFG.config_hash(),
                    "format": "sig:binary,bands:strided"}, f)
    with _pytest.raises(ValueError, match="layout"):
        check_or_write_store_manifest(store, PCFG, spark)


def test_store_manifest_hadoop_fs_path(spark, tmp_path):
    """Manifest IO and partition listing go through the Hadoop FileSystem
    API (spark._jvm), so a bare path and its file:// URI name the same
    store: refusal, listing and exclude_batch_id agree on both forms."""
    import dataclasses

    import pytest as _pytest

    from set_sketch_paper_spark.functions.store_fs import list_batch_dirs
    from set_sketch_paper_spark.streaming.stream_dedup import (
        check_or_write_store_manifest,
    )

    store = str(tmp_path / "hfsstore")
    uri = "file://" + store
    check_or_write_store_manifest(uri, PCFG, spark)     # Hadoop FS write
    assert os.path.exists(os.path.join(store, "_STORE_MANIFEST.json"))
    check_or_write_store_manifest(store, PCFG, spark)   # re-check: fine
    other = dataclasses.replace(PCFG, jaccard_threshold=0.9)
    for path in (store, uri):
        with _pytest.raises(ValueError, match="refusing"):
            check_or_write_store_manifest(path, other, spark)

    os.makedirs(os.path.join(store, "batch_id=0"))
    os.makedirs(os.path.join(store, "batch_id=3"))
    for path in (store, uri):
        assert list_batch_dirs(spark, path) == ["batch_id=0", "batch_id=3"]
        assert list_batch_dirs(spark, path, exclude_batch_id=3) == ["batch_id=0"]


def test_kmv_store_merge_replay_and_compaction(spark, tmp_path):
    """Streaming KMV distinct store: merged state == one-shot batch state
    bit-for-bit, replay is a no-op (idempotent merge), compaction folds to
    one partition without changing the state, and the manifest refuses
    mixed-k appends."""
    from set_sketch_paper_spark.functions.blocks import persistent_rdd_ids
    from set_sketch_paper_spark.operators.kmv import kmv_distinct
    from set_sketch_paper_spark.streaming.distinct import (
        compact_kmv_store,
        foreach_batch_kmv_distinct,
        kmv_store_estimates,
        read_kmv_store,
    )

    store = str(tmp_path / "kmvstore")
    k = 16
    b0 = spark.createDataFrame(
        [("click", i) for i in range(40)] + [("buy", i) for i in range(5)],
        "event_type string, user_id long",
    )
    b1 = spark.createDataFrame(
        [("click", i) for i in range(20, 60)], "event_type string, user_id long"
    )
    handle = foreach_batch_kmv_distinct(store, "event_type", "user_id", k=k)
    handle(b0, 0)
    handle(b1, 1)

    def state():
        return {
            r["event_type"]: list(r["ks"])
            for r in read_kmv_store(spark, store, "event_type", k).collect()
        }

    want = {
        r["event_type"]: list(r["ks"])
        for r in kmv_distinct(b0.union(b1), "event_type", "user_id", k=k).collect()
    }
    assert state() == want
    # replay batch 0: idempotent overwrite, state unchanged
    handle(b0, 0)
    assert state() == want
    # estimates come out of the merged state; 'buy' is exact (5 < k)
    est = {
        r["event_type"]: r.asDict()
        for r in kmv_store_estimates(spark, store, "event_type", k).collect()
    }
    assert est["buy"]["n_sk"] == 5 and est["buy"]["est_q"] == 5_000_000
    assert est["click"]["n_sk"] == k  # 60 distinct > k
    # compaction: one partition left, identical state, and its checkpoint
    # block freed (DataFrame.unpersist() does not free a localCheckpoint)
    before = persistent_rdd_ids(spark)
    assert compact_kmv_store(spark, store, "event_type", k) == 1
    assert not (persistent_rdd_ids(spark) - before)
    dirs = [d for d in os.listdir(store) if d.startswith("batch_id=")]
    assert dirs == ["batch_id=0"]
    assert state() == want
    # manifest refuses a different k
    with pytest.raises(ValueError, match="refusing"):
        foreach_batch_kmv_distinct(store, "event_type", "user_id", k=8)(b0, 2)
