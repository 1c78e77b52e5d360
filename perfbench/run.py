"""perfbench launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 5 --trace 0

Run from the repository root.  See perfbench/README.md for what each
workload and metric means.  The last stdout line is the result object; the
line before it is the run record (host, versions, sizes, raw op times).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "set_sketch_paper_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

import harness  # noqa: E402

WORKLOADS = ("batch_dedup", "stream_ingest", "sketch_rollup")
SETUP_ROUNDS = 3
MAX_CONSECUTIVE_ERRORS = 3

# name -> unit; the order is the order of the result object
END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "rows/s",
    "core_s_per_op": "s",
}
# stream_ingest runs enough ops for a tail percentile (see harness.tail)
STREAM_TAIL = {"op_s_tail": "s"}
PER_LAYER = {
    "sketchlib.shingle_ns_per_token": "ns",
    "sketchlib.minhash_oph_ns_per_elem": "ns",
    "sketchlib.ghll_ns_per_elem": "ns",
    "sketchlib.pair_est_ns_per_pair": "ns",
    "udfs.signature_s": "s",
    "udfs.signature_core_s": "s",
    "udfs.signature_overhead_ratio": "ratio",
    "lsh.candidates_s": "s",
    "lsh.candidate_pairs": "count",
    "lsh.skipped_buckets": "count",
    "lsh.verify_s": "s",
    "lsh.verified_pairs": "count",
    "lsh.precision": "ratio",
    "lsh.shuffle_bytes": "bytes",
    "clustering.cc_s": "s",
    "clustering.edges": "count",
    "clustering.clusters": "count",
    "clustering.fast_path": "flag",
    "pipeline.identity_s": "s",
    "pipeline.signatures_s": "s",
    "pipeline.candidates_s": "s",
    "pipeline.verified_pairs_s": "s",
    "pipeline.clusters_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.persisted_rdds": "count",
    "stream.candidates_s": "s",
    "stream.spark_jobs_per_batch": "count",
    "stream.store_bytes_written": "bytes",
    "stream.store_files": "count",
    "stream.pairs_per_batch": "count",
    "sketch_agg.ghll_s": "s",
    "sketch_agg.partial_rows": "count",
    "sketch_agg.shuffle_bytes": "bytes",
    "kmv.distinct_s": "s",
    "kmv.shuffle_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "host.probe_ns_per_elem": "ns",
    "host.steal_frac": "ratio",
    "trace.op_s_p50": "s",
    "trace.untraced_op_s_p50": "s",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                   help="'all' runs every workload in turn, each in its own process")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the self-test")
    p.add_argument("--corrupt-expected", nargs="?", const="default", metavar="HOW",
                   help="self-test only: damage the expected result so checks must fail "
                        "(batch_dedup: 'recall' or 'precision')")
    return p.parse_args(argv)


def run_hygiene(run_dir: str) -> dict:
    """Pin the process environment before pyspark is imported: every setting
    the JVM and its Python workers inherit.  Returns what was set."""
    cpus = len(os.sched_getaffinity(0))
    driver_mb = min(3072, harness.mem_total_mb() // 4)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    return env


def spark_session(run_dir: str):
    from set_sketch_paper_spark.functions.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> list[int]:
    """Stop Spark, end the JVM and wait for every process this run started."""
    from pyspark import SparkContext

    pids = harness.descendants()
    pids.pop(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return harness.stop_processes(pids)


def make_workload(name, spark, seed, scale, run_dir):
    if name == "batch_dedup":
        from batch_dedup import BatchDedup as cls
    elif name == "stream_ingest":
        from stream_ingest import StreamIngest as cls
    else:
        from sketch_rollup import SketchRollup as cls
    return cls(spark, seed, scale, run_dir)


class Run:
    def __init__(self, wl, args):
        self.wl = wl
        self.args = args
        self.attempted = 0
        self.failures: list[str] = []
        self.op_s: list[float] = []
        self.core_s: list[float] = []

    def judge(self, payload, error):
        self.attempted += 1
        if error is None:
            error = self.wl.check(payload)
        if error is not None:
            self.failures.append(error)
        return error

    def timed_op(self, record: bool = True):
        """One untraced op, checked; its wall and process-tree CPU seconds
        go to op_s / core_s when ``record``.  Returns (wall, raised)."""
        cpu0 = harness.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            payload, error = self.wl.op(), None
        except Exception as e:  # a failed op is counted, not fatal
            payload, error = None, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = harness.tree_cpu_s() - cpu0
        raised = error is not None
        self.judge(payload, error)
        self.wl.after_op()
        if record and not raised:  # an op that raised has no meaningful latency
            self.op_s.append(wall)
            self.core_s.append(cpu)
        return wall, raised

    def setup(self, boot_s: float) -> dict:
        """SETUP_ROUNDS times: cache the input afresh (and seed the store);
        then the first, cold op and the fixed number of warm-up ops.
        setup_s = session boot + the median preparation + the first op + the
        warm-up ops: the time from process start to the first timed op,
        less input generation and the reference results."""
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.wl.prepare()
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        first = self.wl.op()
        first_op_s = time.perf_counter() - t0
        self.wl.after_op()
        t0 = time.perf_counter()
        self.wl.reference()
        if self.args.corrupt_expected:
            self.wl.corrupt_reference(self.args.corrupt_expected)
        ref_s = time.perf_counter() - t0
        self.judge(first, None)
        self.wl.begin_measure()
        # the JVM keeps compiling for several ops; the count is fixed so that
        # every run, on every commit, times equally warm ops
        warmup = [self.timed_op(record=False)[0] for _ in range(self.wl.warmup_ops)]
        return {"boot_s": boot_s, "prepare_s": rounds, "first_op_s": first_op_s,
                "reference_s": ref_s, "warmup_s": warmup,
                "setup_s": boot_s + median(rounds) + first_op_s + sum(warmup)}

    def measure(self):
        """At least the workload's min_ops timed ops and at least --seconds."""
        deadline = time.perf_counter() + self.args.seconds
        raised_in_row = 0
        while raised_in_row < MAX_CONSECUTIVE_ERRORS:
            raised_in_row = raised_in_row + 1 if self.timed_op()[1] else 0
            if time.perf_counter() >= deadline and len(self.op_s) >= self.wl.min_ops:
                break

    def measure_traced(self, tracer) -> dict:
        """Alternate untraced and traced ops for the run's duration.  Layer
        values are medians over the traced ops; the tracing overhead is the
        traced op's own span against the untraced op's wall time."""
        once = self.wl.traced_once(tracer)
        deadline = time.perf_counter() + self.args.seconds
        traced_s, layers = [], []
        raised_in_row = 0
        while raised_in_row < MAX_CONSECUTIVE_ERRORS:
            raised = self.timed_op()[1]
            try:
                payload, values, root = self.wl.traced_op(len(traced_s), tracer)
                error = None
            except Exception as e:
                payload, error = None, f"{type(e).__name__}: {e}"
                raised = True
            else:
                traced_s.append(harness.span_s(root))
                layers.append(values)
            self.judge(payload, error)
            raised_in_row = raised_in_row + 1 if raised else 0
            if time.perf_counter() >= deadline and len(traced_s) >= 2 and len(self.op_s) >= 2:
                break
        out = {name: median([v.get(name, 0) for v in layers]) for name in PER_LAYER}
        out.update(once)
        out["trace.op_s_p50"] = median(traced_s)
        out["trace.untraced_op_s_p50"] = median(self.op_s)
        out["trace.overhead_ratio"] = out["trace.op_s_p50"] / out["trace.untraced_op_s_p50"]
        return out


def run_all(argv) -> int:
    """Each workload in a child process of its own (a fresh JVM each);
    returns the worst exit code."""
    import subprocess

    rest = list(argv)
    i = rest.index("--workload")
    del rest[i:i + 2]
    codes = [
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w, *rest]).returncode
        for w in WORKLOADS
    ]
    return max(codes)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    age_at_start = harness.process_age_s() - (time.perf_counter() - T_START)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = run_hygiene(run_dir)
    steal0 = harness.cpu_stat()
    spark = None
    try:
        spark = spark_session(run_dir)
        boot_s = age_at_start + time.perf_counter() - T_START
        wl = make_workload(args.workload, spark, args.seed, args.scale, run_dir)
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0
        run = Run(wl, args)
        setup = run.setup(boot_s)
        tracer = None
        if args.trace:
            tracer = harness.Tracer(spark)
            layer_values = run.measure_traced(tracer)
        else:
            run.measure()
        if not run.op_s:
            raise RuntimeError(f"no op completed: {run.failures[:3]}")
    finally:
        t0 = time.perf_counter()
        stopped = stop_session(spark) if spark is not None else []
        shutil.rmtree(run_dir, ignore_errors=True)
        stop_s = time.perf_counter() - t0
    steal = harness.steal_frac(steal0, harness.cpu_stat())
    t0 = time.perf_counter()
    # bench.py's hardware probe: single-thread GHLL insert, a fixed kernel,
    # so a shift here is the host, not the code under test
    import bench

    probe = bench._hardware_probe()["ghll_m4096_b2_ns_per_elem"]
    probe_s = time.perf_counter() - t0

    import numpy
    import pandas
    import pyarrow
    import pyspark

    tail = harness.tail(run.op_s)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "sizes": wl.sizes(),
        "cpus": int(env["SPARK_GRAFT_CPUS"]), "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                     "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
                     "pandas": pandas.__version__},
        "host_probe_ns_per_elem": probe, "steal_frac": steal,
        "generate_s": generate_s, **setup,
        "ops": len(run.op_s), "op_s": run.op_s, "core_s": run.core_s,
        "tail": tail,
        "failures": run.failures[:20], "stop_s": stop_s, "probe_s": probe_s,
        "signalled_pids": stopped,
    }
    if args.trace:
        layer_values["host.probe_ns_per_elem"] = probe
        layer_values["host.steal_frac"] = steal
        metrics = {k: {"value": layer_values[k], "unit": u} for k, u in PER_LAYER.items()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(trace_path, "w") as f:
            json.dump({"run": record, "layers": layer_values, "spans": tracer.dump()}, f, indent=1)
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        values = {
            "setup_s": setup["setup_s"],
            "op_s_p50": median(run.op_s),
            "rows_per_s": wl.rows_per_op * len(run.op_s) / sum(run.op_s),
            "core_s_per_op": median(run.core_s),
        }
        units = dict(END_TO_END)
        if args.workload == "stream_ingest":
            if tail is None:
                raise RuntimeError(f"{len(run.op_s)} ops are too few for op_s_tail")
            values["op_s_tail"] = tail["value"]
            units.update(STREAM_TAIL)
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    correct = not run.failures
    print(json.dumps({"run": record}))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
