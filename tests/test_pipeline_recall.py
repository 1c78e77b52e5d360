"""End-to-end pipeline recall tests (the north-rule headline metric).

Three layers of assertion on the synthetic planted corpus (FIXTURES.md F1):

1. **Pipeline == oracle, bit-exact**: the Spark pipeline and the single-node
   numpy oracle run the identical shingle/signature/LSH config, so verified
   pairs and cluster assignments must agree exactly (recall AND precision
   1.0 vs "reference behavior" — BASELINE.json's recall>=0.99 criterion with
   margin).  Checked for both the dense (paper-parity) and OPH (scale)
   signature algorithms.
2. **Recall vs planted truth**: every exact-duplicate pair and every
   near-duplicate pair with token-edit fraction eps <= 0.05 (true k=3-shingle
   Jaccard ~ (1-eps)^3 >= 0.85, far above the 0.5 threshold) must be
   clustered together; recall >= 0.99.
3. **Per-row sha256 invariant** (input_hint): pipeline verification against
   a precomputed sha256 column passes, and a corrupted column raises.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from set_sketch_paper_spark.config import (
    LSHConfig,
    MinHashConfig,
    PipelineConfig,
    ShingleConfig,
)
from set_sketch_paper_spark.oracle import oracle_near_dup
from set_sketch_paper_spark.plans.pipeline import NearDupPipeline
from set_sketch_paper_spark.sources.synthetic import (
    KIND_EXACT,
    KIND_NEAR,
    files_pandas,
    files_table,
    prototype_of,
    row_kind,
)

N_ROWS = 2000
# Spark jobs of a warm test_sha256_invariant run + collect, its sha check's
# count included.  It was 23 while widen_if_narrow and the clusters stage's
# fast-path check each ran jobs of their own only to size a decision
WARM_PIPELINE_JOBS = 17


def _pcfg(algo: str) -> PipelineConfig:
    return PipelineConfig(
        shingle=ShingleConfig(k=3),
        minhash=MinHashConfig(num_registers=128, algo=algo),
        lsh=LSHConfig(num_bands=32, rows_per_band=4, band_cap=500),
        jaccard_threshold=0.5,
    )


@pytest.fixture(scope="module")
def corpus_pdf() -> pd.DataFrame:
    pdf = files_pandas(N_ROWS, seed=42)
    # the oracle keys by a single id column; use row_id (unique by build)
    return pdf


@pytest.mark.parametrize("algo", ["dense", "oph"])
def test_pipeline_matches_oracle_bit_exact(spark, corpus_pdf, algo):
    pcfg = _pcfg(algo)
    files = files_table(spark, N_ROWS, seed=42)
    result = NearDupPipeline(pcfg).run(files, id_cols=("repo", "path", "commit"))

    # oracle runs on representatives after the exact-dup short circuit, as
    # the pipeline does: dedup identical content, keep min file_id
    pdf = corpus_pdf.copy()
    id_map = (
        files.select(
            "row_id", F.xxhash64("repo", "path", "commit").alias("file_id")
        )
        .toPandas()
        .set_index("row_id")["file_id"]
    )
    pdf["file_id"] = pdf["row_id"].map(id_map)
    pdf["sha"] = pdf["content"].map(lambda c: hashlib.sha256(c.encode()).hexdigest())
    reps = pdf.loc[pdf.groupby("sha")["file_id"].idxmin()]

    o_pairs, o_clusters = oracle_near_dup(reps, pcfg, id_col="file_id")

    got_pairs = {
        (r["id1"], r["id2"]) for r in result.pairs.select("id1", "id2").collect()
    }
    want_pairs = set(zip(o_pairs["id1"], o_pairs["id2"])) if len(o_pairs) else set()
    assert got_pairs == want_pairs, (
        f"{algo}: pipeline pairs != oracle pairs "
        f"(missing {len(want_pairs - got_pairs)}, extra {len(got_pairs - want_pairs)})"
    )

    # cluster assignments for representatives must match the oracle exactly
    got_clusters = {
        r["file_id"]: r["cluster_id"] for r in result.clusters.collect()
    }
    for fid, cid in o_clusters.items():
        assert got_clusters[fid] == cid, f"{algo}: cluster mismatch for {fid}"

    # the in-memory stages' row counts are observed on their checkpoint
    # jobs; the clusters stage holds every file in a cluster of >= 2
    sizes = pd.Series(list(got_clusters.values())).value_counts()
    rows = {m.name: m.rows for m in result.metrics}
    assert rows["identity"] == N_ROWS
    assert rows["verified_pairs"] == len(got_pairs)
    assert rows["clusters"] == int(sizes[sizes >= 2].sum())


def test_recall_vs_planted_truth(spark, corpus_pdf):
    pcfg = _pcfg("oph")
    files = files_table(spark, N_ROWS, seed=42)
    result = NearDupPipeline(pcfg).run(files, id_cols=("repo", "path", "commit"))

    id_map = (
        files.select("row_id", F.xxhash64("repo", "path", "commit").alias("file_id"))
        .toPandas()
        .set_index("row_id")["file_id"]
    )
    cluster_of = {
        r["file_id"]: r["cluster_id"] for r in result.clusters.collect()
    }

    total = 0
    hit = 0
    for row_id in range(N_ROWS):
        kind = row_kind(row_id)
        if kind not in (KIND_EXACT, KIND_NEAR):
            continue
        if kind == KIND_NEAR:
            # eps cycles {0.01,0.05,0.1,0.2}; only eps<=0.05 guaranteed above
            # the 0.5 Jaccard threshold at k=3
            ndup_seq = (row_id // 100) * 15 + (row_id % 100 - 60)
            if ndup_seq % 4 >= 2:
                continue
        proto = prototype_of(row_id, N_ROWS)
        total += 1
        if cluster_of[id_map[row_id]] == cluster_of[id_map[proto]]:
            hit += 1
    recall = hit / total
    assert recall >= 0.99, f"planted-truth recall {recall:.4f} < 0.99 ({hit}/{total})"


def _compiles(spark) -> int:
    """Janino class compiles so far in this JVM (CodegenMetrics)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_sha256_invariant(spark):
    pcfg = _pcfg("oph")
    files = files_table(spark, 200, seed=42)
    ok = files.withColumn("src_sha", F.sha2("content", 256))
    # passes when the column matches; a repeat of the same run compiles no
    # class (the codegen cache holds a whole pipeline, functions/session.py).
    # Compiles are counted JVM-wide and AQE can re-plan a join on slightly
    # different runtime sizes, so one of two repeats must read 0; at Spark's
    # default cache of 100 entries every repeat recompiles.
    # The same warm run + collect is also pinned at WARM_PIPELINE_JOBS Spark
    # jobs, the sha check's count included: no job runs only to size a
    # decision (widen_if_narrow, the clusters fast path) or a metric.
    sc = spark.sparkContext
    repeats, jobs = [], []
    for i in range(3):
        before = _compiles(spark)
        sc.setJobGroup(f"sha256_invariant_{i}", "warm pipeline run")
        try:
            result = NearDupPipeline(pcfg).run(ok, id_cols=("repo", "path", "commit"),
                                               verify_sha_against="src_sha")
            result.clusters.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        result.release_cache()
        repeats.append(_compiles(spark) - before)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"sha256_invariant_{i}")))
        if repeats[1:] and repeats[-1] == 0:
            break
    assert 0 in repeats[1:], repeats
    assert jobs[1] == WARM_PIPELINE_JOBS, jobs
    # raises when any row is corrupted
    bad = ok.withColumn(
        "src_sha",
        F.when(F.col("row_id") == 7, F.lit("0" * 64)).otherwise(F.col("src_sha")),
    )
    with pytest.raises(ValueError, match="sha mismatch"):
        NearDupPipeline(pcfg).run(bad, id_cols=("repo", "path", "commit"),
                                  verify_sha_against="src_sha")
