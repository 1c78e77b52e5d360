"""Signature computation over a content table.

One narrow (shuffle-free) pass: content -> MinHash signature + LSH band
hashes + shingle count, plus JVM-side sha256 of the content (the per-row
invariant required by BASELINE.json input_hint).  Column pruning matters at
100 TB: everything downstream selects only (id, sig/bands), so Catalyst never
re-reads `content` after this stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import GHLLConfig, PipelineConfig, SetSketchConfig
from ..functions.blocks import sever_plan_identity
from ..functions.udfs import make_minhash_signature_udf, make_register_sketch_udf


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition up to the session parallelism when the plan is narrower.

    Small parquet inputs arrive as 1-2 row-groups = 1-2 tasks, serializing
    any expensive per-row stage (tokenization, UDFs) behind them.  At
    cluster scale spark.sql.files.maxPartitionBytes keeps scans wide and
    this is a no-op; the guard only pays its small shuffle when the input
    would otherwise underuse the executors.

    Sizing runs no job of its own.  A plan without shuffles (a scan, a
    cached frame) knows its partition count before it runs and comes back
    as it is.  An adaptive plan knows it only once its shuffle stages have
    run: it is sized from one execution, and the frame returned (widened or
    not) reads that same execution, so the caller's action reuses its
    shuffle outputs and broadcasts instead of running them again.  Such a
    frame carries every column of ``df``: project before widening.
    """
    if df.isStreaming:  # micro-batch sizing is the stream's own concern
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution()
    if plan.executedPlan().nodeName() == "AdaptiveSparkPlan":
        df = sever_plan_identity(df)
    if plan.toRdd().getNumPartitions() < par:
        return df.repartition(par)
    return df


def with_file_id(df: DataFrame, cols=("repo", "path", "commit"), out: str = "file_id") -> DataFrame:
    """Deterministic 64-bit id from identity columns (JVM-side xxhash64)."""
    return df.withColumn(out, F.xxhash64(*[F.col(c) for c in cols]))


def with_content_sha(df: DataFrame, content_col: str = "content", out: str = "content_sha") -> DataFrame:
    """Per-row sha256 invariant vs the source (input_hint) — built-in sha2,
    never a Python UDF."""
    return df.withColumn(out, F.sha2(F.col(content_col), 256))


def with_minhash_signature(
    df: DataFrame, pcfg: PipelineConfig, content_col: str = "content"
) -> DataFrame:
    """Adds sig:binary (LE uint64 register buffer), bands:array<long>,
    n_shingles:int.  Narrow inputs are widened first — the signature UDF is
    the expensive per-row stage and must not serialize behind a 1-row-group
    scan."""
    if "_sig_struct" in df.columns:
        raise ValueError(
            "with_minhash_signature input has a column named '_sig_struct', "
            "which clashes with its internal struct column; rename it first"
        )
    udf = make_minhash_signature_udf(pcfg)
    return (
        widen_if_narrow(df).withColumn("_sig_struct", udf(F.col(content_col)))
        .withColumn("sig", F.col("_sig_struct.sig"))
        .withColumn("bands", F.col("_sig_struct.bands"))
        .withColumn("n_shingles", F.col("_sig_struct.n_shingles"))
        .drop("_sig_struct")
    )


def with_register_sketch(
    df: DataFrame, cfg, pcfg: PipelineConfig, content_col: str = "content",
    out: str = "registers",
) -> DataFrame:
    """Adds a GHLL/SetSketch1 register state column (binary numpy buffer)."""
    assert isinstance(cfg, (GHLLConfig, SetSketchConfig))
    udf = make_register_sketch_udf(cfg, pcfg.shingle)
    return widen_if_narrow(df).withColumn(out, udf(F.col(content_col)))
