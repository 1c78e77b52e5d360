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
from ..functions.blocks import materialize, persistent_rdd_ids, release
from ..functions.store_fs import delete, read_manifest, write_manifest
from ..functions.udfs import make_minhash_pair_estimator_udf
from ..operators import lsh as lsh_ops
from ..operators.clustering import connected_components
from ..operators.signatures import with_content_sha, with_file_id, with_minhash_signature


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

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_MANIFEST.json")

    def _read_manifest(self, spark: SparkSession, stage: str) -> dict | None:
        """The stage's manifest, or None when there is none or it was
        written under another config (a config change invalidates it)."""
        if not self._stage_dir(stage):
            return None
        manifest = read_manifest(spark, self._manifest_path(stage))
        if manifest is None or manifest.get("config_hash") != self.pcfg.config_hash():
            return None
        return manifest

    def _write_manifest(self, spark: SparkSession, stage: str, **fields) -> None:
        write_manifest(spark, self._manifest_path(stage), {
            "stage": stage,
            "run_id": self.run_id,
            "config_hash": self.pcfg.config_hash(),
            **fields,
        })

    def _try_resume(self, spark: SparkSession, stage: str) -> DataFrame | None:
        manifest = self._read_manifest(spark, stage)
        if manifest is None:
            return None
        out = spark.read.parquet(self._stage_dir(stage))
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
        annotated.write.mode("overwrite").parquet(d)
        spark = df.sparkSession
        out = spark.read.parquet(d)
        per_part = (
            out.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        rows = int(sum(r["count"] for r in per_part))
        self._write_manifest(
            spark,
            stage,
            rows=rows,
            partitions={str(r["pid"]): r["count"] for r in per_part},
            seconds=time.time() - t0,
        )
        self.metrics.append(
            StageMetrics(stage, rows, time.time() - t0, False, len(per_part))
        )
        return out.drop("_stage", "_config_hash", "_run_id")

    def _stage_bucketed_table(
        self, spark: SparkSession, name: str, build, bucket_col: str, n_buckets: int
    ) -> DataFrame:
        """Checkpoint a stage as a parquet table bucketed+sorted by
        ``bucket_col``: downstream equi-joins on that column scan the table
        in place (no Exchange on this side).  Resume semantics match the
        path-based checkpoint (config hash in the manifest), with one open
        fault: resume also needs the ``ssp_<name>_*`` table in the
        session catalog, so a NEW session (empty catalog) rebuilds this
        stage even though the manifest and the table files survive; the
        other stages still resume from their parquet."""
        table = f"ssp_{name}_{self.pcfg.config_hash()[:12]}"
        t0 = time.time()
        manifest = self._read_manifest(spark, name)
        if manifest is not None and spark.catalog.tableExists(table):
            out = spark.table(table)
            self.metrics.append(
                StageMetrics(name, manifest["rows"], 0.0, True, out.rdd.getNumPartitions())
            )
            return out
        df = build()
        # a fresh session has an empty catalog, but the managed-table
        # LOCATION from a previous session may survive on disk — drop both
        # or saveAsTable fails with LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        delete(spark, os.path.join(warehouse, table))
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .saveAsTable(table)
        )
        out = spark.table(table)
        rows = out.count()
        if self._stage_dir(name):
            self._write_manifest(
                spark, name, rows=rows, table=table, buckets=n_buckets, seconds=time.time() - t0
            )
        self.metrics.append(
            StageMetrics(name, rows, time.time() - t0, False, out.rdd.getNumPartitions())
        )
        return out

    def _stage(self, spark: SparkSession, name: str, build, materialize: bool = True) -> DataFrame:
        resumed = self._try_resume(spark, name)
        if resumed is not None:
            return resumed
        if not materialize and not self._stage_dir(name):
            # in-memory mode only: a stage consumed exactly once downstream
            # needs no checkpoint barrier — materializing it is one extra
            # job + plan (codegen) per run for data the next stage's build
            # re-reads immediately.  With a checkpoint_dir the stage still
            # persists to parquet (the resume/lineage contract is
            # unchanged); its cost is then timed inside the consuming
            # stage's metrics entry.
            t0 = time.time()
            out = build()
            self.metrics.append(StageMetrics(name, -1, time.time() - t0, False, -1))
            return out
        t0 = time.time()
        before = persistent_rdd_ids(spark)
        out = self._checkpoint(build(), name, t0)
        # what build() left persistent (the CC loop's last blocks, which
        # feed its lazy result) is dead once the stage is checkpointed.
        # This diff would also free blocks that CONCURRENT jobs on the
        # session persist meanwhile: lock before running pipelines in parallel
        release(spark, persistent_rdd_ids(spark) - before - self._ckpt_rdd_ids)
        return out

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
        sig_build = lambda: with_minhash_signature(rep_rows, self.pcfg, content_col).select(
            "file_id", "sig", "bands", "n_shingles"
        )
        if self.pcfg.sig_buckets > 0:
            signatures = self._stage_bucketed_table(
                spark, "signatures", sig_build, "file_id", self.pcfg.sig_buckets
            )
        else:
            signatures = self._stage(spark, "signatures", sig_build)

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
        # with a checkpoint dir, the CC loop uses RELIABLE rdd checkpoints
        # (localCheckpoint blocks don't survive executor loss on a cluster)
        reliable_cc = bool(self.pcfg.checkpoint_dir)
        if reliable_cc:
            spark.sparkContext.setCheckpointDir(
                os.path.join(self.pcfg.checkpoint_dir, "_cc_rdd_ckpt")
            )
        # a bound on the edges from counts already taken: every file that is
        # not its content's representative gives one exact edge, so there
        # are fewer exact edges than identity rows
        n_edges = sum(m.rows for m in self.metrics if m.name in ("identity", "verified_pairs"))
        components = self._stage(
            spark, "clusters",
            lambda: connected_components(edges, reliable=reliable_cc, n_edges=n_edges),
        )

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
