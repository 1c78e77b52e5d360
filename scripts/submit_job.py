"""spark-submit entrypoint for the near-duplicate pipeline (north rule:
"run via spark-submit --py-files on a multi-executor cluster").

The script imports ``set_sketch_paper_spark`` from whatever ``--py-files``
archive spark-submit shipped (it deliberately lives OUTSIDE the package so
nothing resolves via the repo checkout), builds the session from
spark-submit's own conf (master/executors come from the submit command, not
from code), runs the full MinHash->LSH->verify->connected-components
pipeline over either a parquet table or the deterministic synthetic corpus,
and prints one JSON line of result metrics + per-stage lineage.

Cluster usage (the real thing):

    python scripts/package_pyfiles.py dist/set_sketch_paper_spark.zip
    spark-submit --master yarn --deploy-mode cluster \
        --num-executors 1000 --executor-cores 4 --executor-memory 16g \
        --py-files dist/set_sketch_paper_spark.zip \
        scripts/submit_job.py --input /warehouse/code_files --checkpoint-dir s3a://bucket/ckpt

Sandbox / test usage (local master stands in for the cluster):

    spark-submit --master "local[8]" --py-files dist/set_sketch_paper_spark.zip \
        scripts/submit_job.py --synthetic 2000 --out /tmp/result.json
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="near-dup pipeline spark-submit job")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path with columns (repo, path, commit, lang, content)")
    src.add_argument(
        "--synthetic",
        type=int,
        metavar="N_FILES",
        help="generate the deterministic planted corpus of N_FILES rows instead of reading a table",
    )
    ap.add_argument("--seed", type=int, default=42, help="synthetic corpus seed")
    ap.add_argument("--threshold", type=float, default=0.5, help="Jaccard threshold")
    ap.add_argument("--registers", type=int, default=128, help="MinHash registers m")
    ap.add_argument("--bands", type=int, default=32, help="LSH bands (rows = m/bands)")
    ap.add_argument("--algo", default="oph", choices=["oph", "dense"], help="signature algorithm")
    ap.add_argument("--checkpoint-dir", default=None, help="resumable stage-checkpoint root")
    ap.add_argument("--out", default=None, help="write the result JSON here as well as stdout")
    args = ap.parse_args(argv)
    if args.registers % args.bands:
        ap.error("--registers must be divisible by --bands")

    # Import AFTER argparse: on an executor-shipped --py-files archive a
    # missing zip should fail loudly here, not at argument errors.
    from pyspark.sql import SparkSession

    from set_sketch_paper_spark.config import (
        LSHConfig,
        MinHashConfig,
        PipelineConfig,
        ShingleConfig,
    )
    from set_sketch_paper_spark.functions.session import CODEGEN_CACHE_ENTRIES
    from set_sketch_paper_spark.plans.pipeline import NearDupPipeline
    from set_sketch_paper_spark.sources.synthetic import files_table

    # master / executor topology / memory all come from the spark-submit
    # command line; code only sets semantics-level conf it owns.
    spark = (
        SparkSession.builder.appName("near-dup-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )

    pcfg = PipelineConfig(
        shingle=ShingleConfig(k=3),
        minhash=MinHashConfig(num_registers=args.registers, algo=args.algo),
        lsh=LSHConfig(num_bands=args.bands, rows_per_band=args.registers // args.bands),
        jaccard_threshold=args.threshold,
        checkpoint_dir=args.checkpoint_dir,
    )

    if args.synthetic is not None:
        files = files_table(spark, args.synthetic, seed=args.seed)
    else:
        files = spark.read.parquet(args.input)

    t0 = time.time()
    result = NearDupPipeline(pcfg).run(files, id_cols=("repo", "path", "commit"))
    n_pairs = result.pairs.count()
    by_cluster = result.clusters.groupBy("cluster_id").count()
    n_files = result.clusters.count()
    n_clusters = by_cluster.count()
    n_dup_files = (
        by_cluster.filter("count > 1").agg({"count": "sum"}).collect()[0][0] or 0
    )
    report = {
        "n_files": n_files,
        "n_clusters": int(n_clusters),
        "n_dup_files": int(n_dup_files),
        "n_verified_pairs": int(n_pairs),
        "wall_sec": round(time.time() - t0, 3),
        "config_hash": pcfg.config_hash(),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "stages": [vars(m) for m in result.metrics],
    }
    line = json.dumps(report)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
    sys.exit(0)
