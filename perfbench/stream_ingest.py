"""stream_ingest: the foreachBatch near-dup handler on successive micro-batches.

The signature store is seeded from a snapshot of the corpus, then each op
hands the next micro-batch of new files to the handler
``foreach_batch_near_dup(pcfg, store, verify=True)`` directly, the way
Structured Streaming would call it.  When the stream is exhausted the store
is reset to the seeded snapshot and the stream replays from batch 1."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from set_sketch_paper_spark.functions.udfs import make_minhash_pair_estimator_udf
from set_sketch_paper_spark.operators import lsh
from set_sketch_paper_spark.operators.signatures import with_minhash_signature
from set_sketch_paper_spark.sources.synthetic import gen_rows
from set_sketch_paper_spark.streaming.stream_dedup import (
    foreach_batch_near_dup,
    incremental_candidates,
    read_signature_store,
)

import docs
from harness import Workload, persist, persistent_rdds, release, release_rdds_since, span_s

SIZES = {
    "full": {"snapshot": 1500, "batch": 200, "batches": 8, "token_scale": 1},
    "tiny": {"snapshot": 200, "batch": 50, "batches": 4, "token_scale": 1},
}


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(d, name))
    return files, size


class StreamIngest(Workload):
    name = "stream_ingest"
    # enough micro-batches for op_s_tail: the p75, with 10 samples beyond it
    min_ops = 40

    def __init__(self, spark, seed, scale, work_dir):
        super().__init__(spark, seed, scale, work_dir)
        sz = SIZES[scale]
        self.n_snapshot, self.batch, self.batches = sz["snapshot"], sz["batch"], sz["batches"]
        self.token_scale = sz["token_scale"]
        self.n = self.n_snapshot + self.batch * self.batches
        self.rows_per_op = self.batch
        self.store = os.path.join(work_dir, "signature_store")
        self.pristine = os.path.join(work_dir, "signature_store_seeded")
        self.inp = None
        self._emitted: list = []
        self.handler = foreach_batch_near_dup(
            docs.PCFG, self.store, verify=True,
            sink=lambda pairs, batch_id: self._emitted.append(pairs.select("id1", "id2").collect()),
        )
        # seeding writes the snapshot's signatures; no pairs are asked for
        self.seeder = foreach_batch_near_dup(
            docs.PCFG, self.store, verify=True, sink=lambda pairs, batch_id: None
        )

    def sizes(self):
        return {"snapshot_files": self.n_snapshot, "batch_files": self.batch,
                "batches_per_pass": self.batches, "token_scale": self.token_scale,
                "pipeline_config": docs.PCFG.config_hash()}

    def batch_of(self, row_id: int) -> int:
        return 0 if row_id < self.n_snapshot else 1 + (row_id - self.n_snapshot) // self.batch

    def generate(self):
        pdf = gen_rows(range(self.n), self.n, self.seed, self.token_scale)
        pdf["doc_id"] = pdf["row_id"]
        pdf["bid"] = [self.batch_of(r) for r in pdf["row_id"]]
        self.pdf = pdf[["doc_id", "bid", "content"]]

    def _micro_batch(self, bid: int):
        return self.inp.filter(F.col("bid") == bid).select("doc_id", "content")

    def _release_new_blocks(self):
        """The handler's per-batch localCheckpoint: every RDD cached since
        the input was."""
        release_rdds_since(self.spark, self._baseline)

    def _reset_store(self):
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.pristine, self.store)
        self.cursor = 1

    def prepare(self):
        if self.inp is not None:
            self.inp.unpersist(blocking=True)
        self.inp = self.spark.createDataFrame(self.pdf).persist()
        self.inp.count()
        self._baseline = persistent_rdds(self.spark)
        shutil.rmtree(self.store, ignore_errors=True)
        self.seeder(self._micro_batch(0), 0)
        self._release_new_blocks()
        shutil.rmtree(self.pristine, ignore_errors=True)
        shutil.copytree(self.store, self.pristine)
        self.cursor = 1

    def reference(self):
        """The batch pair set: candidates + verification over the whole
        corpus at once, the same lsh calls the batch pipeline makes."""
        held = []
        try:
            sigs = persist(
                with_minhash_signature(self.inp.select("doc_id", "content"), docs.PCFG)
                .select("doc_id", "sig", "bands", "n_shingles"),
                held,
            )
            cand = lsh.candidate_pairs(sigs, docs.PCFG.lsh, id_col="doc_id")
            est = make_minhash_pair_estimator_udf(docs.PCFG.minhash, "original")
            pairs = lsh.verified_pairs(cand, sigs, est, docs.PCFG.jaccard_threshold, id_col="doc_id")
            rows = pairs.select("id1", "id2").collect()
        finally:
            release(held)
        self.expected = {b: set() for b in range(self.batches + 1)}
        for r in rows:
            b = max(self.batch_of(r["id1"]), self.batch_of(r["id2"]))
            self.expected[b].add((r["id1"], r["id2"]))

    def corrupt_reference(self, how):
        self.expected[1].add((-2, -1))

    def begin_measure(self):
        self._reset_store()

    def _advance(self):
        self.cursor += 1
        if self.cursor > self.batches:
            self._reset_store()

    def op(self):
        bid = self.cursor
        self._emitted.clear()
        self.handler(self._micro_batch(bid), bid)
        return bid, [p for part in self._emitted for p in part]

    def after_op(self):
        self._release_new_blocks()
        self._advance()

    def check(self, payload):
        bid, rows = payload
        got = {(r["id1"], r["id2"]) for r in rows}
        exp = self.expected[bid]
        if len(got) != len(rows):
            return f"batch {bid}: {len(rows) - len(got)} duplicate pairs emitted"
        if got != exp:
            return (f"batch {bid}: {len(exp - got)} pairs missing, "
                    f"{len(got - exp)} unexpected (of {len(exp)})")
        return None

    # -- traced run ------------------------------------------------------------

    def traced_once(self, tracer):
        """The signature boundary over the snapshot (the work seeding does),
        and the in-driver kernel over the same documents."""
        texts = self.pdf.loc[self.pdf["bid"] == 0, "content"].tolist()
        with tracer.span("sketchlib.kernels", "once", spark=False):
            k = docs.kernel_probe(texts, self.seed)
        held = []
        try:
            with tracer.span("udfs.signature", "once") as s:
                persist(with_minhash_signature(self._micro_batch(0), docs.PCFG), held)
        finally:
            release(held)
        k["udfs.signature_s"] = span_s(s)
        k["udfs.signature_core_s"] = s["cpu_s"]
        k["udfs.signature_overhead_ratio"] = s["cpu_s"] / k.pop("_kernel_sig_cpu_s")
        return k

    def traced_op(self, op_id, tracer):
        bid = self.cursor
        held = []
        try:
            rows, root, out, (new, prior, cand, sc_span) = traced_micro_batch(
                self.spark, self.handler, self._emitted, self._micro_batch(bid), bid,
                self.store, tracer, op_id, held,
            )
            out.update({f"spark.{k}": v for k, v in root["spark"].items()})
            with tracer.span("lsh.candidates", op_id) as cand_span:
                within, skipped = lsh.candidate_pairs(
                    new, docs.PCFG.lsh, id_col="doc_id", with_skipped=True
                )
                persist(within, held)
                n_skipped = skipped.count()
            with tracer.span("lsh.verify", op_id) as ver_span:
                sigs = prior.select("doc_id", "sig", "n_shingles").union(
                    new.select("doc_id", "sig", "n_shingles")
                )
                est = make_minhash_pair_estimator_udf(docs.PCFG.minhash, "original")
                ver = persist(
                    lsh.verified_pairs(cand, sigs, est, docs.PCFG.jaccard_threshold,
                                       id_col="doc_id"),
                    held,
                )
            n_cand, n_ver = cand.count(), ver.count()
        finally:
            release(held)
            self._release_new_blocks()
        out.update({
            "lsh.candidates_s": span_s(cand_span),
            "lsh.candidate_pairs": n_cand,
            "lsh.skipped_buckets": n_skipped,
            "lsh.verify_s": span_s(ver_span),
            "lsh.verified_pairs": n_ver,
            "lsh.precision": n_ver / n_cand if n_cand else 1.0,
            "lsh.shuffle_bytes": sc_span["spark"]["shuffle_write_bytes"]
            + cand_span["spark"]["shuffle_write_bytes"]
            + ver_span["spark"]["shuffle_write_bytes"],
        })
        self._advance()
        return (bid, rows), out, root


def traced_micro_batch(spark, handler, emitted, batch_df, bid, store, tracer, op_id, held):
    """One handler call under a span, then the streaming layer's own
    candidate step (``read_signature_store`` + ``incremental_candidates``)
    replayed on the batch as the handler stored it.  Returns the emitted
    pairs, the op span, the stream.* values and (stored batch, prior store,
    candidates, their span) for further replays; cached frames go to
    ``held``."""
    emitted.clear()
    with tracer.span("stream_ingest.op", op_id) as root:
        handler(batch_df, bid)
    rows = [p for part in emitted for p in part]
    batch_dir = os.path.join(store, f"batch_id={bid}")
    files, _ = _dir_stats(store)
    _, written = _dir_stats(batch_dir)
    new = spark.read.parquet(batch_dir)
    with tracer.span("stream.candidates", op_id) as span:
        prior = read_signature_store(spark, store, exclude_batch_id=bid)
        cand = persist(incremental_candidates(new, prior, docs.PCFG, "doc_id"), held)
    values = {
        "stream.candidates_s": span_s(span),
        "stream.spark_jobs_per_batch": root["spark"]["jobs"],
        "stream.store_bytes_written": written,
        "stream.store_files": files,
        "stream.pairs_per_batch": len(rows),
    }
    return rows, root, values, (new, prior, cand, span)
