"""Checkpoint / resume semantics of the pipeline (north rule: "resumable
from checkpoint with per-partition lineage + metrics")."""

from __future__ import annotations

import json
import os

import pytest

from set_sketch_paper_spark.config import (
    LSHConfig,
    MinHashConfig,
    PipelineConfig,
    ShingleConfig,
)
from set_sketch_paper_spark.plans.pipeline import NearDupPipeline
from set_sketch_paper_spark.sources.synthetic import files_table

N_ROWS = 500


def _pcfg(tmp: str, threshold: float = 0.5) -> PipelineConfig:
    return PipelineConfig(
        shingle=ShingleConfig(k=3),
        minhash=MinHashConfig(num_registers=128, algo="oph"),
        lsh=LSHConfig(num_bands=32, rows_per_band=4, band_cap=500),
        jaccard_threshold=threshold,
        checkpoint_dir=tmp,
    )


def test_checkpoint_then_resume(spark, tmp_path, monkeypatch):
    ckpt = str(tmp_path / "ckpt")
    files = files_table(spark, N_ROWS, seed=42)

    # the first run names the dir as a file:// URI: its manifests must land
    # beside the stage parquet, not under a driver-cwd-relative "file:" dir
    pipe1 = NearDupPipeline(_pcfg("file://" + ckpt))
    r1 = pipe1.run(files, id_cols=("repo", "path", "commit"))
    clusters1 = sorted((r["file_id"], r["cluster_id"]) for r in r1.clusters.collect())
    assert all(not m.resumed for m in pipe1.metrics)

    # manifests: per-stage lineage with config hash + per-partition rows
    stages = [m.name for m in pipe1.metrics]
    for stage in stages:
        man_path = os.path.join(ckpt, stage, "_MANIFEST.json")
        assert os.path.exists(man_path), stage
        man = json.loads(open(man_path).read())
        assert man["config_hash"] == pipe1.pcfg.config_hash()
        assert man["rows"] == sum(man["partitions"].values())
        assert man["seconds"] >= 0

    # second run with the same config, from another working directory and
    # with the plain path, resumes every stage and reproduces the exact
    # cluster assignment
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    monkeypatch.chdir(elsewhere)
    pipe2 = NearDupPipeline(_pcfg(ckpt))
    r2 = pipe2.run(files, id_cols=("repo", "path", "commit"))
    clusters2 = sorted((r["file_id"], r["cluster_id"]) for r in r2.clusters.collect())
    assert clusters1 == clusters2
    assert all(m.resumed for m in pipe2.metrics), [
        (m.name, m.resumed) for m in pipe2.metrics
    ]


def test_config_change_invalidates_checkpoint(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    files = files_table(spark, N_ROWS, seed=42)
    NearDupPipeline(_pcfg(ckpt, threshold=0.5)).run(files, id_cols=("repo", "path", "commit"))

    # different threshold -> different config hash -> checkpoints must NOT be
    # reused (mirrors the reference's merge precondition, sketch.hpp:1021)
    pipe = NearDupPipeline(_pcfg(ckpt, threshold=0.9))
    pipe.run(files, id_cols=("repo", "path", "commit"))
    assert all(not m.resumed for m in pipe.metrics)


def test_result_csv_roundtrip_with_config_header(spark, tmp_path):
    """Reference-style result sink (appendInfo header, sketch.hpp:1969-2018):
    the descriptor line survives a round-trip and pins the exact config."""
    from pyspark.sql import functions as F

    from set_sketch_paper_spark.config import GHLLConfig
    from set_sketch_paper_spark.sources.tables import (
        read_result_csv,
        write_result_csv,
    )

    cfg = GHLLConfig(num_registers=256, q=62)
    df = spark.range(5).select(
        F.col("id").alias("cardinality"), (F.col("id") * 2.5).alias("estimate")
    )
    path = str(tmp_path / "result.csv")
    write_result_csv(df, path, cfg)
    got, info = read_result_csv(spark, path)
    assert info["name"] == "GHLLConfig"
    assert int(info["num_registers"]) == 256 and int(info["q"]) == 62
    assert info["configHash"] == cfg.config_hash()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    # first line of the file is the descriptor, second the column header
    with open(path) as f:
        assert f.readline().startswith("name=GHLLConfig;")
        assert f.readline().strip() == "cardinality;estimate"
