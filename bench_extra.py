#!/usr/bin/env python
"""Ad-hoc per-query isolation bench (guide §1.4): times selected queries()
entries with the noop sink at an arbitrary SF dir, prints per-query seconds
and optionally dumps .explain("formatted") to plans/r06/.

Usage:
    python bench_extra.py QUERY [QUERY...] [--sf-dir DIR] [--reps N]
        [--explain-out plans/r06] [--suffix _before]

This file is NOT part of the frozen driver contract (bench.py is); it
exists so optimization work can cite noop-sink isolation numbers without
touching the frozen harness.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain-out", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--count", action="store_true",
                    help="time df.count() like bench.py instead of the noop sink")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from set_sketch_paper_spark.functions.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench-extra", cpus=cpus)
    qmap = entrymod.queries()
    # same pool warmup as bench.py so cold numbers are comparable
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F

    from set_sketch_paper_spark.functions.blocks import persistent_rdd_ids, release
    from set_sketch_paper_spark.functions.udfs import make_minhash_signature_udf

    warm_udf = make_minhash_signature_udf(entrymod.DOC_PCFG)
    (
        spark.range(cpus * 4, numPartitions=cpus)
        .select(warm_udf(F.lit("warm up text for the arrow path")).alias("s"))
        .select(F.sum("s.n_shingles"))
        .collect()
    )

    def sweep():
        release(spark, persistent_rdd_ids(spark))

    out = {}
    for name in args.queries:
        fn = qmap[name]
        if args.explain_out:
            os.makedirs(args.explain_out, exist_ok=True)
            df = fn(spark, args.sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain_out, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(txt)
            sweep()
        reps = []
        rows = None
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            if args.count:
                rows = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            sweep()
        out[name] = reps
        print(f"{name}: {reps}" + (f" rows={rows}" if rows is not None else ""), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
