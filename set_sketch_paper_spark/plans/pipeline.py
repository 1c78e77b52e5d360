"""End-to-end near-duplicate detection + clustering pipeline.

Stage graph (all DataFrame ops; SURVEY.md §7.1 step 3-4):

  input(repo,path,commit,lang,content)
    -> identity: file_id = xxhash64(repo,path,commit), content_sha = sha2
    -> exact dedup short-circuit: group by content_sha, keep min-id
       representative (the 100TB win: byte-identical copies never reach the
       sketch stage)
    -> signatures: MinHash sig + LSH band hashes (narrow, one content pass)
    -> LSH candidate pairs (bucket groupBy, band cap for hot-band skew)
    -> verification join + vectorized joint estimate, threshold
    -> edges = near-dup pairs ∪ exact-dup (member -> representative) edges
    -> connected components -> cluster assignment for every input file

Checkpointing / resume: each stage optionally persists to
``<checkpoint_dir>/<stage>`` as parquet with a manifest JSON carrying the
config hash, row count, timing and lineage (written beside the parquet
through the session's Hadoop FS, ``functions/store_fs.py``, so any
checkpoint_dir scheme resumes from any driver); a resumed run with the same
config hash reads the parquet instead of recomputing (north rule:
"resumable from checkpoint with per-partition lineage + metrics").  A config
change invalidates downstream checkpoints (mirrors the reference's merge
precondition assert(config == other.config), sketch.hpp:1021).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..config import PipelineConfig
from ..functions.blocks import materialize, release
from ..functions.store_fs import delete, read_manifest, write_manifest
from ..functions.udfs import make_minhash_pair_estimator_udf
from ..operators import lsh as lsh_ops
from ..operators.clustering import connected_components
from ..operators.signatures import with_content_sha, with_file_id, with_minhash_signature

# a stage's manifest, beside its parquet under <checkpoint_dir>/<stage>
MANIFEST = "_MANIFEST.json"


@dataclass
class StageMetrics:
    name: str
    rows: int  # -1 only for a stage that is neither materialized nor resumed
    seconds: float
    resumed: bool
    num_partitions: int


@dataclass
class PipelineResult:
    clusters: DataFrame
    pairs: DataFrame
    metrics: list[StageMetrics] = field(default_factory=list)
    # ids of localCheckpoint block-RDDs held by the in-memory (no
    # checkpoint-dir) stage mode; empty when stages persist to parquet
    _ckpt_rdd_ids: set = field(default_factory=set)
    _spark: SparkSession | None = None

    def release_cache(self) -> int:
        """Unpersist the stage localCheckpoint blocks backing this result.

        Call ONLY after ``clusters``/``pairs`` have been fully consumed —
        the blocks are the severed lineage's sole data source, so the
        frames are unusable afterwards.  Long-lived drivers running many
        pipeline batches in one session need this between batches or dead
        stage blocks accumulate for the session's lifetime.  Returns the
        number of RDDs freed."""
        if not self._spark:
            return 0
        return release(self._spark, self._ckpt_rdd_ids)


class NearDupPipeline:
    """The staged near-dup job.  A run touches no session-wide state: its
    blocks are the ones it made (``PipelineResult.release_cache`` frees
    them), and what it persists lives under its own ``checkpoint_dir``.  So
    callers may run pipelines concurrently on one session, each with its
    own object: one object serves one ``run()`` at a time (it holds that
    run's metrics and block ids).  Two concurrent runs must not share a
    ``checkpoint_dir`` under the same config."""

    def __init__(self, pcfg: PipelineConfig, run_id: str = "run0"):
        self.pcfg = pcfg
        self.run_id = run_id
        self.metrics: list[StageMetrics] = []
        self._ckpt_rdd_ids: set[int] = set()

    # -- checkpoint helpers -------------------------------------------------

    def _stage_dir(self, stage: str) -> str | None:
        if not self.pcfg.checkpoint_dir:
            return None
        return os.path.join(self.pcfg.checkpoint_dir, stage)

    def _try_resume(self, spark: SparkSession, stage: str) -> DataFrame | None:
        """The stage's parquet, or None when it has no manifest or one
        written under another config (a config change invalidates it)."""
        d = self._stage_dir(stage)
        manifest = d and read_manifest(spark, os.path.join(d, MANIFEST))
        if not manifest or manifest.get("config_hash") != self.pcfg.config_hash():
            return None
        out = spark.read.parquet(d)
        self.metrics.append(
            StageMetrics(stage, manifest["rows"], 0.0, True, out.rdd.getNumPartitions())
        )
        return out.drop("_stage", "_config_hash", "_run_id")

    def _checkpoint(self, df: DataFrame, stage: str, t0: float) -> DataFrame:
        """Persist stage output + manifest; returns the materialized frame.

        Lineage columns (_stage, _config_hash, _run_id) ride along in the
        parquet so any downstream consumer can trace provenance; the manifest
        records per-partition row counts (lineage + metrics requirement).
        """
        d = self._stage_dir(stage)
        if not d:
            # the row count rides on the checkpoint's own job: a separate
            # count() would be one more job per stage
            counted = Observation()
            out = materialize(df.observe(counted, F.count(F.lit(1)).alias("rows")),
                              self._ckpt_rdd_ids)
            self.metrics.append(
                StageMetrics(stage, counted.get["rows"], time.time() - t0, False,
                             out.rdd.getNumPartitions())
            )
            return out
        annotated = (
            df.withColumn("_stage", F.lit(stage))
            .withColumn("_config_hash", F.lit(self.pcfg.config_hash()))
            .withColumn("_run_id", F.lit(self.run_id))
        )
        out = materialize(annotated, self._ckpt_rdd_ids, path=d)
        per_part = (
            out.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        rows = int(sum(r["count"] for r in per_part))
        write_manifest(df.sparkSession, os.path.join(d, MANIFEST), {
            "stage": stage,
            "run_id": self.run_id,
            "config_hash": self.pcfg.config_hash(),
            "rows": rows,
            "partitions": {str(r["pid"]): r["count"] for r in per_part},
            "seconds": time.time() - t0,
        })
        self.metrics.append(
            StageMetrics(stage, rows, time.time() - t0, False, len(per_part))
        )
        return out.drop("_stage", "_config_hash", "_run_id")

    def _stage(self, spark: SparkSession, name: str, build, materialize: bool = True) -> DataFrame:
        resumed = self._try_resume(spark, name)
        if resumed is not None:
            return resumed
        t0 = time.time()
        if not materialize and not self._stage_dir(name):
            # in-memory mode only: a stage consumed exactly once downstream
            # needs no checkpoint barrier — materializing it is one extra
            # job + plan (codegen) per run for data the next stage's build
            # re-reads immediately.  With a checkpoint_dir the stage still
            # persists to parquet (the resume/lineage contract is
            # unchanged); its cost is then timed inside the consuming
            # stage's metrics entry.
            out = build()
            self.metrics.append(StageMetrics(name, -1, time.time() - t0, False, -1))
            return out
        return self._checkpoint(build(), name, t0)

    # -- pipeline -----------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        id_cols=("repo", "path", "commit"),
        content_col: str = "content",
        verify_sha_against: str | None = None,
    ) -> PipelineResult:
        spark = df.sparkSession
        self.metrics = []
        self._ckpt_rdd_ids = set()

        base = with_content_sha(with_file_id(df, id_cols), content_col)
        if verify_sha_against:
            bad = base.filter(F.col("content_sha") != F.col(verify_sha_against)).count()
            if bad:
                raise ValueError(f"content sha mismatch on {bad} rows")

        # exact-dup short circuit: representative per content_sha
        ids = self._stage(
            spark,
            "identity",
            lambda: base.select("file_id", "content_sha"),
        )
        reps = ids.groupBy("content_sha").agg(F.min("file_id").alias("rep_id"))
        exact_edges = (
            ids.join(reps, "content_sha")
            .filter(F.col("file_id") != F.col("rep_id"))
            .select(F.col("rep_id").alias("id1"), F.col("file_id").alias("id2"))
        )

        rep_rows = (
            base.join(reps.withColumnRenamed("rep_id", "file_id"), ["content_sha", "file_id"])
            .select("file_id", content_col)
        )
        signatures = self._stage(
            spark,
            "signatures",
            lambda: with_minhash_signature(rep_rows, self.pcfg, content_col).select(
                "file_id", "sig", "bands", "n_shingles"
            ),
        )

        candidates = self._stage(
            spark,
            "candidates",
            lambda: lsh_ops.candidate_pairs(signatures, self.pcfg.lsh, id_col="file_id"),
            # consumed exactly once (verified_pairs' join input); see _stage
            materialize=False,
        )

        est_udf = make_minhash_pair_estimator_udf(self.pcfg.minhash, "original")
        verified = self._stage(
            spark,
            "verified_pairs",
            lambda: lsh_ops.verified_pairs(
                candidates, signatures, est_udf, self.pcfg.jaccard_threshold, id_col="file_id"
            ),
        )

        edges = verified.select("id1", "id2").union(exact_edges.select("id1", "id2"))
        # a bound on the edges from counts already taken: every file that is
        # not its content's representative gives one exact edge, so there
        # are fewer exact edges than identity rows
        n_edges = sum(m.rows for m in self.metrics if m.name in ("identity", "verified_pairs"))
        # with a checkpoint dir the CC loop's rounds are parquet under it
        # (localCheckpoint blocks don't survive executor loss on a cluster);
        # its blocks and rounds only feed the lazy components, dead once the
        # clusters stage is persisted
        cc_held: set[int] = set()
        cc_dir = self._stage_dir("_cc")
        components = self._stage(
            spark, "clusters",
            lambda: connected_components(
                edges, checkpoint_dir=cc_dir, n_edges=n_edges, held=cc_held
            ),
        )
        release(spark, cc_held)
        if cc_dir:
            delete(spark, cc_dir)

        # every file gets an assignment; singletons cluster with themselves
        assignment = (
            ids.select("file_id")
            .join(components.withColumnRenamed("id", "file_id"), "file_id", "left")
            .select(
                "file_id",
                F.coalesce("cluster_id", "file_id").alias("cluster_id"),
            )
        )
        return PipelineResult(
            clusters=assignment,
            pairs=verified,
            metrics=self.metrics,
            _ckpt_rdd_ids=self._ckpt_rdd_ids,
            _spark=spark,
        )
