"""sketch_rollup: per-key distinct counts over a generated event stream.

One op computes, for every key, a GHLL distinct estimate
(``sketch_agg.sketch_distinct``) and a KMV bottom-k sketch with its estimate
(``kmv.kmv_distinct`` + ``with_kmv_estimate``), both collected to the
driver.  No MinHash, LSH or clustering is on this path."""

from __future__ import annotations

import hashlib
import math
import time
from statistics import median

import numpy as np
from pyspark.sql import functions as F

from set_sketch_paper_spark.config import GHLLConfig
from set_sketch_paper_spark.operators.kmv import kmv_distinct, with_kmv_estimate
from set_sketch_paper_spark.operators.sketch_agg import (
    make_partition_partial_mapper,
    sketch_distinct,
)
from set_sketch_paper_spark.sketchlib.ghll import ghll_sketches_batch
from set_sketch_paper_spark.sketchlib.hashing import u64_from_i64

from harness import Workload, span_s

# keys << flush_keys (65,536 for sketch_distinct, 100,000 for kmv_distinct):
# every task keeps one in-flight sketch per key it sees and never flushes early
SIZES = {
    "full": {"rows": 250_000, "keys": 1000},
    "tiny": {"rows": 20_000, "keys": 50},
}
GHLL = GHLLConfig(num_registers=4096)
KMV_K = 256
PARTITIONS = 8
# relative standard error of GHLL with base 2 (SetSketch paper):
# sqrt((b+1)/(b-1) * ln b - 1) / sqrt(m)
GHLL_RSE = math.sqrt(3 * math.log(2) - 1) / math.sqrt(GHLL.num_registers)
GHLL_BAND = 6 * GHLL_RSE


def _xor_fold(col):
    return F.aggregate(col, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x))


class SketchRollup(Workload):
    name = "sketch_rollup"

    def __init__(self, spark, seed, scale, work_dir):
        super().__init__(spark, seed, scale, work_dir)
        self.rows = SIZES[scale]["rows"]
        self.keys = SIZES[scale]["keys"]
        self.rows_per_op = self.rows
        self.events = None

    def sizes(self):
        return {"rows": self.rows, "keys": self.keys, "users": self.rows // 4,
                "ghll_registers": GHLL.num_registers, "kmv_k": KMV_K,
                "flush_keys": {"sketch_distinct": 65_536, "kmv_distinct": 100_000}}

    def _generate(self):
        """Events (key, user): key skewed as floor(keys * u^3) (key 0 holds
        ~10% of rows at 1000 keys), user uniform over rows/4 ids.  Both are
        hashes of the row index and the seed, so the JVM generates them in
        the cache job itself; generation costs ~0.1 s of it."""
        u = (F.xxhash64(F.col("id"), F.lit(self.seed)).bitwiseAND(F.lit((1 << 52) - 1))
             .cast("double") / float(1 << 52))
        return self.spark.range(0, self.rows, numPartitions=PARTITIONS).select(
            F.floor(F.lit(float(self.keys)) * F.pow(u, F.lit(3.0))).cast("long").alias("key"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(self.seed + 1)),
                   F.lit(self.rows // 4)).alias("user"),
        )

    def prepare(self):
        if self.events is not None:
            self.events.unpersist(blocking=True)
        self.events = self._generate().persist()
        self.events.count()

    def reference(self):
        """Exact distinct counts and exact bottom-k per key, in the driver."""
        pdf = self.events.select("key", "user").toPandas().drop_duplicates()
        self.exact = pdf.groupby("key")["user"].size().to_dict()
        users = pdf["user"].unique()
        # kmv hash: top 60 bits of md5 of the value's decimal string
        h = {u: int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) for u in users}
        pdf = pdf.assign(h=pdf["user"].map(h)).sort_values(["key", "h"])
        self.bottom_k = {}
        for key, grp in pdf.groupby("key"):
            ks = grp["h"].to_numpy()[:KMV_K]
            n = len(ks)
            est_q = (n * 1_000_000 if n < KMV_K else
                     math.floor(float((KMV_K - 1) * 2**60 * 1_000_000) / float(ks[-1])))
            self.bottom_k[key] = (n, int(ks[-1]), est_q, int(np.bitwise_xor.reduce(ks)))

    def corrupt_reference(self, how):
        key = next(iter(self.exact))
        self.exact[key] *= 2

    def _ghll(self):
        hashed = self.events.withColumn("h", F.xxhash64("user"))
        return sketch_distinct(hashed, ["key"], "h", GHLL).select("key", "est_distinct").collect()

    def _kmv(self):
        ks = with_kmv_estimate(kmv_distinct(self.events, ["key"], "user", k=KMV_K), KMV_K)
        return ks.select("key", "n_sk", "kth_v", "est_q", _xor_fold(F.col("ks")).alias("x")).collect()

    def op(self):
        return self._ghll(), self._kmv()

    def check(self, payload):
        ghll, kmv = payload
        est = {r["key"]: r["est_distinct"] for r in ghll}
        if est.keys() != self.exact.keys():
            return f"GHLL returned {len(est)} keys, expected {len(self.exact)}"
        off = [k for k, n in self.exact.items() if abs(est[k] - n) > GHLL_BAND * n]
        if off:
            k = off[0]
            return (f"{len(off)} GHLL estimates outside +-{GHLL_BAND:.3f} relative, "
                    f"e.g. key {k}: {est[k]:.1f} vs {self.exact[k]}")
        got = {r["key"]: (r["n_sk"], r["kth_v"], r["est_q"], r["x"]) for r in kmv}
        if got != self.bottom_k:
            bad = [k for k in self.bottom_k if got.get(k) != self.bottom_k[k]]
            return f"KMV differs from the exact bottom-{KMV_K} on {len(bad)} keys"
        return None

    # -- traced run ------------------------------------------------------------

    def traced_once(self, tracer):
        """Single-thread GHLL insert over the rollup's own per-key element
        arrays."""
        pdf = (self.events.select("key", F.xxhash64("user").alias("h"))
               .toPandas().sort_values("key", kind="stable"))
        elements = u64_from_i64(pdf["h"].to_numpy(dtype=np.int64))
        counts = np.bincount(pdf["key"].to_numpy(), minlength=self.keys)
        offsets = np.concatenate([[0], np.cumsum(counts)])
        times = []
        with tracer.span("sketchlib.kernels", "once", spark=False):
            for _ in range(3):
                t0 = time.perf_counter()
                ghll_sketches_batch(elements, offsets, GHLL.num_registers, GHLL.base, GHLL.q, GHLL.seed)
                times.append(time.perf_counter() - t0)
        return {"sketchlib.ghll_ns_per_elem": median(times) / len(elements) * 1e9}

    def traced_op(self, op_id, tracer):
        with tracer.span("sketch_rollup.op", op_id, spark=False) as root:
            with tracer.span("sketch_agg.ghll", op_id) as g_span:
                ghll = self._ghll()
            with tracer.span("kmv.distinct", op_id) as k_span:
                kmv = self._kmv()
        with tracer.span("sketch_agg.partial", op_id):
            partial = self.events.select("key", F.xxhash64("user").alias("h")).mapInPandas(
                make_partition_partial_mapper(GHLL, ["key"], "h"), "key bigint, sketch binary"
            )
            partial_rows = partial.count()
        out = {
            "sketch_agg.ghll_s": span_s(g_span),
            "sketch_agg.partial_rows": partial_rows,
            "sketch_agg.shuffle_bytes": g_span["spark"]["shuffle_write_bytes"],
            "kmv.distinct_s": span_s(k_span),
            "kmv.shuffle_bytes": k_span["spark"]["shuffle_write_bytes"],
        }
        out.update({f"spark.{k}": v for k, v in tracer.subtree_spark(root).items()})
        return (ghll, kmv), out, root
