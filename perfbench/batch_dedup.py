"""batch_dedup: the flagship NearDupPipeline job over a cached F1 corpus.

One op is one complete ``NearDupPipeline.run`` from the cached input to the
cluster assignment of every file, collected to the driver."""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import functions as F

from set_sketch_paper_spark.functions.udfs import make_minhash_pair_estimator_udf
from set_sketch_paper_spark.operators import lsh
from set_sketch_paper_spark.operators.clustering import connected_components
from set_sketch_paper_spark.operators.signatures import (
    with_content_sha,
    with_file_id,
    with_minhash_signature,
)
from set_sketch_paper_spark.plans.pipeline import NearDupPipeline
from set_sketch_paper_spark.sources import synthetic
from set_sketch_paper_spark.sources.synthetic import gen_rows
from set_sketch_paper_spark.streaming.stream_dedup import foreach_batch_near_dup

import docs
from harness import Workload, persist, persistent_rdds, release, release_rdds_since, span_s
from stream_ingest import traced_micro_batch

# full: ~4 s per warm op on 4 vCPUs.  Op time grows in proportion to the
# corpus (8,000 files take twice as long), so engine work, not Spark's fixed
# per-job cost, sets it
SIZES = {
    "full": {"n_files": 4000, "token_scale": 4},
    "tiny": {"n_files": 300, "token_scale": 1},
}
# share of the eps = 0.2 near duplicates that may end up with their
# prototype (verification should reject nearly all of them)
MAX_FAR_JOINED = 0.05
# connected_components' default: edge sets up to this size take the
# single-task union-find path
SMALL_GRAPH_EDGES = 1_000_000


class BatchDedup(Workload):
    name = "batch_dedup"
    # core seconds per op reach their plateau by the fifth op at the full
    # size; three timed ops keep a run near one minute
    warmup_ops = 4
    min_ops = 3

    def __init__(self, spark, seed, scale, work_dir):
        super().__init__(spark, seed, scale, work_dir)
        self.n = SIZES[scale]["n_files"]
        self.token_scale = SIZES[scale]["token_scale"]
        self.rows_per_op = self.n
        self.inp = None
        self.digest = None
        self._result = None

    def sizes(self):
        return {"files": self.n, "token_scale": self.token_scale,
                "pipeline_config": docs.PCFG.config_hash()}

    def generate(self):
        self.pdf = gen_rows(range(self.n), self.n, self.seed, self.token_scale)

    def prepare(self):
        if self.inp is not None:
            self.inp.unpersist(blocking=True)
        self.inp = self.spark.createDataFrame(self.pdf).persist()
        self.inp.count()

    def reference(self):
        rows = with_file_id(self.inp).select("row_id", "file_id").collect()
        self.file_id = {r["row_id"]: r["file_id"] for r in rows}
        self.must_join = docs.must_join(self.n)
        self.must_not_join = docs.must_not_join(self.n)
        self.family = {r: docs.family(r, self.n) for r in range(self.n)}

    def corrupt_reference(self, how):
        if how in ("default", "recall"):
            # two unrelated background documents
            self.must_join.append((0, 1))
        elif how == "precision":
            # an exact duplicate assigned to a family of its own
            row = next(a for a, _ in self.must_join
                       if synthetic.row_kind(a) == synthetic.KIND_EXACT)
            self.family[row] = -2
        else:
            raise ValueError(f"unknown corruption {how!r}")

    def op(self):
        self._result = NearDupPipeline(docs.PCFG).run(self.inp)
        return self._result.clusters.collect()

    def after_op(self):
        if self._result is not None:
            self._result.release_cache()
            self._result = None

    def check(self, rows):
        cluster = {r["file_id"]: r["cluster_id"] for r in rows}
        if len(rows) != self.n or len(cluster) != self.n:
            return f"{len(rows)} assignments for {len(cluster)} ids, expected {self.n}"
        split = [(a, b) for a, b in self.must_join
                 if cluster[self.file_id[a]] != cluster[self.file_id[b]]]
        if split:
            return f"{len(split)} duplicate rows not clustered with their prototype, e.g. {split[:3]}"
        owner = {}
        for row, fam in self.family.items():
            c = cluster[self.file_id[row]]
            if owner.setdefault(c, fam) != fam:
                return f"cluster {c} merges truth families {owner[c]} and {fam} (row {row})"
        joined = sum(cluster[self.file_id[a]] == cluster[self.file_id[b]]
                     for a, b in self.must_not_join)
        if joined > MAX_FAR_JOINED * len(self.must_not_join):
            return (f"{joined} of {len(self.must_not_join)} eps=0.2 near duplicates "
                    f"clustered with their prototype")
        digest = hashlib.sha256(repr(sorted(cluster.items())).encode()).hexdigest()
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            return "cluster assignment differs from the first op's"
        return None

    # -- traced run ------------------------------------------------------------

    def traced_once(self, tracer):
        texts = list(dict.fromkeys(self.pdf["content"]))  # the exact-dedup representatives
        with tracer.span("sketchlib.kernels", "once", spark=False):
            k = docs.kernel_probe(texts, self.seed)
        self._kernel_sig_cpu_s = k.pop("_kernel_sig_cpu_s")
        k.update(self._stream_probe(tracer))
        return k

    def _stream_probe(self, tracer):
        """The streaming layer on this corpus: seed a signature store with
        the first 90% of the files, hand the last 10% to the foreachBatch
        handler as one micro-batch."""
        store = os.path.join(self.work_dir, "stream_probe_store")
        docs_df = self.inp.select(F.col("row_id").alias("doc_id"), "content")
        cut = self.n - self.n // 10
        emitted = []
        seeder = foreach_batch_near_dup(docs.PCFG, store, verify=True, sink=lambda p, b: None)
        handler = foreach_batch_near_dup(
            docs.PCFG, store, verify=True,
            sink=lambda p, b: emitted.append(p.select("id1", "id2").collect()),
        )
        baseline, held = persistent_rdds(self.spark), []
        try:
            seeder(docs_df.filter(F.col("doc_id") < cut), 0)
            _, _, values, _ = traced_micro_batch(
                self.spark, handler, emitted, docs_df.filter(F.col("doc_id") >= cut), 1,
                store, tracer, "once", held,
            )
        finally:
            release(held)
            release_rdds_since(self.spark, baseline)
            shutil.rmtree(store, ignore_errors=True)
        return values

    def traced_op(self, op_id, tracer):
        jsc = self.spark.sparkContext._jsc
        n_persisted = len(jsc.getPersistentRDDs())
        with tracer.span("batch_dedup.op", op_id) as root:
            self._result = NearDupPipeline(docs.PCFG).run(self.inp)
            payload = self._result.clusters.collect()
        out = {f"pipeline.{m.name}_s": m.seconds for m in self._result.metrics}
        out["pipeline.persisted_rdds"] = len(jsc.getPersistentRDDs()) - n_persisted
        out["pipeline.spark_jobs"] = root["spark"]["jobs"]
        out.update({f"spark.{k}": v for k, v in root["spark"].items()})
        self.after_op()
        out.update(self._replay_layers(op_id, tracer))
        return payload, out, root

    def _replay_layers(self, op_id, tracer):
        """The pipeline's layer calls one by one, each materialized before the
        next starts, so each span holds its own layer's work."""
        held = []
        try:
            with tracer.span("layers", op_id, spark=False):
                with tracer.span("identity", op_id):
                    base = with_content_sha(with_file_id(self.inp), "content")
                    ids = persist(base.select("file_id", "content_sha"), held)
                    reps = ids.groupBy("content_sha").agg(F.min("file_id").alias("rep_id"))
                    rep_rows = persist(
                        base.join(reps.withColumnRenamed("rep_id", "file_id"),
                                  ["content_sha", "file_id"]).select("file_id", "content"),
                        held,
                    )
                    exact_edges = persist(
                        ids.join(reps, "content_sha")
                        .filter(F.col("file_id") != F.col("rep_id"))
                        .select(F.col("rep_id").alias("id1"), F.col("file_id").alias("id2")),
                        held,
                    )
                with tracer.span("udfs.signature", op_id) as sig_span:
                    sigs = persist(
                        with_minhash_signature(rep_rows, docs.PCFG, "content")
                        .select("file_id", "sig", "bands", "n_shingles"),
                        held,
                    )
                with tracer.span("lsh.candidates", op_id) as cand_span:
                    cand, skipped = lsh.candidate_pairs(
                        sigs, docs.PCFG.lsh, id_col="file_id", with_skipped=True
                    )
                    cand = persist(cand, held)
                    n_skipped = skipped.count()
                with tracer.span("lsh.verify", op_id) as ver_span:
                    est = make_minhash_pair_estimator_udf(docs.PCFG.minhash, "original")
                    ver = persist(
                        lsh.verified_pairs(cand, sigs, est, docs.PCFG.jaccard_threshold,
                                           id_col="file_id"),
                        held,
                    )
                with tracer.span("clustering.cc", op_id) as cc_span:
                    edges = persist(ver.select("id1", "id2").union(exact_edges), held)
                    comps = persist(connected_components(edges), held)
                n_cand, n_ver, n_edges = cand.count(), ver.count(), edges.count()
                n_clusters = comps.select("cluster_id").distinct().count()
        finally:
            release(held)
        return {
            "udfs.signature_s": span_s(sig_span),
            "udfs.signature_core_s": sig_span["cpu_s"],
            "udfs.signature_overhead_ratio": sig_span["cpu_s"] / self._kernel_sig_cpu_s,
            "lsh.candidates_s": span_s(cand_span),
            "lsh.candidate_pairs": n_cand,
            "lsh.skipped_buckets": n_skipped,
            "lsh.verify_s": span_s(ver_span),
            "lsh.verified_pairs": n_ver,
            "lsh.precision": n_ver / n_cand if n_cand else 1.0,
            "lsh.shuffle_bytes": cand_span["spark"]["shuffle_write_bytes"]
            + ver_span["spark"]["shuffle_write_bytes"],
            "clustering.cc_s": span_s(cc_span),
            "clustering.edges": n_edges,
            "clustering.clusters": n_clusters,
            "clustering.fast_path": int(n_edges <= SMALL_GRAPH_EDGES),
        }
