"""Self-test of the benchmark at the tiny input size.

    python3 perfbench/selftest.py

For every workload: an untraced run emits every end-to-end metric of
BENCHMARK.json with its unit and checks clean; a traced run on a second seed
emits every per-layer metric with its unit and checks clean; a run whose
expected result is corrupted reports a counted failure and exits non-zero.
Finally the launcher must refuse, without a result line, to run from a
directory holding only BENCHMARK.json and perfbench/.  Takes ~9 minutes on
4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

# batch_dedup checks recall (duplicates clustered together) and precision
# (truth families kept apart) separately; each must catch its own damage
CORRUPTIONS = {"batch_dedup": ("recall", "precision")}


def launch(cwd, *args):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    return bool(cond)


def metrics_match(result, spec, extra=None) -> bool:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec} | (extra or {})
    numeric = all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    return got == want and numeric


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = expect(
        [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
        and [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
        and all(m["unit"] == run.END_TO_END[m["name"]] for m in bench["end_to_end"])
        and all(m["unit"] == run.PER_LAYER[m["name"]] for m in bench["per_layer"]),
        "BENCHMARK.json metric lists match run.py",
    )
    tiny = ["--scale", "tiny", "--seconds", "1"]
    for w in run.WORKLOADS:
        rc, res, err = launch(ROOT, "--workload", w, "--seed", "1", "--trace", "0", *tiny)
        ok &= expect(rc == 0 and res and res["correct"] and res["failed"] == 0
                     and metrics_match(res, bench["end_to_end"],
                                       run.STREAM_TAIL if w == "stream_ingest" else None)
                     and all(v["value"] > 0 for v in res["metrics"].values()),
                     f"{w}: untraced run, seed 1, every end-to-end metric, clean"
                     + ("" if rc == 0 else f"\n{err[-3000:]}"))
        rc, res, err = launch(ROOT, "--workload", w, "--seed", "2", "--trace", "1", *tiny)
        ok &= expect(rc == 0 and res and res["correct"] and res["failed"] == 0
                     and metrics_match(res, bench["per_layer"]),
                     f"{w}: traced run, seed 2, every per-layer metric, clean"
                     + ("" if rc == 0 else f"\n{err[-3000:]}"))
        for how in CORRUPTIONS.get(w, ("default",)):
            rc, res, _ = launch(ROOT, "--workload", w, "--seed", "1", "--trace", "0",
                                "--corrupt-expected", how, *tiny)
            ok &= expect(rc != 0 and res and not res["correct"]
                         and 1 <= res["failed"] <= res["attempted"],
                         f"{w}: corrupted expected result ({how}) is a counted failure")

    bare = os.path.join(run.WORK, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, _ = launch(bare, "--workload", run.WORKLOADS[0], "--seed", "1", "--seconds", "1")
    shutil.rmtree(bare, ignore_errors=True)
    ok &= expect(rc != 0 and res is None, "refuses to run without the package, no result")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
