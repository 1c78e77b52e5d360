"""Partition-bounded two-stage sketch aggregation: accuracy vs exact distinct
counts, partitioning invariance (the algebraic-merge contract), bounded
per-task memory under hot keys (flush path), NULL-key groups, and agreement
with Spark's built-in HLL++ sanity check (SURVEY.md §4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from set_sketch_paper_spark.config import GHLLConfig, MinHashConfig, SetSketchConfig
from set_sketch_paper_spark.operators.kmv import _bottom_k_family
from set_sketch_paper_spark.operators.sketch_agg import (
    _partial_mapper,
    make_partition_partial_mapper,
    sketch_distinct,
)
from set_sketch_paper_spark.sketchlib.ghll import ghll_sketches_batch
from set_sketch_paper_spark.sketchlib.hashing import u64_from_i64


@pytest.fixture(scope="module")
def events(spark):
    # 3 groups with known distinct user counts 500 / 2000 / 50; group by id
    # RANGE so the modulus never aliases with the group predicate
    rows = spark.range(100_000).select(
        F.when(F.col("id") < 50_000, "a")
        .when(F.col("id") < 90_000, "b")
        .otherwise("c")
        .alias("event_type"),
        F.when(F.col("id") < 50_000, F.col("id") % 500)
        .when(F.col("id") < 90_000, F.col("id") % 2000)
        .otherwise(F.col("id") % 50)
        .alias("user"),
    )
    return rows.withColumn("user_hash", F.xxhash64("user", "event_type"))


EXACT = {"a": 500, "b": 2000, "c": 50}


@pytest.mark.parametrize("cfg,tol", [
    (GHLLConfig(num_registers=1024, q=62), 0.10),
    (MinHashConfig(num_registers=512, algo="dense"), 0.15),
    (SetSketchConfig(num_registers=1024, base=2.0, a=20.0, q=62), 0.10),
])
def test_sketch_distinct_accuracy(events, cfg, tol):
    got = {
        r["event_type"]: r["est_distinct"]
        for r in sketch_distinct(events, ["event_type"], "user_hash", cfg).collect()
    }
    for k, exact in EXACT.items():
        rel = abs(got[k] - exact) / exact
        assert rel < tol, (k, got[k], exact)


def test_sketch_distinct_partitioning_invariant(events):
    """Element-wise merge is associative/commutative, so the merged sketch —
    and therefore the estimate — must be bit-identical for ANY partitioning
    of the input (1 task vs 16 tasks)."""
    cfg = GHLLConfig(num_registers=1024, q=62)

    def run(df):
        return {
            r["event_type"]: (r["est_distinct"], bytes(r["sketch"]))
            for r in sketch_distinct(df, ["event_type"], "user_hash", cfg).collect()
        }

    assert run(events.repartition(1)) == run(events.repartition(16, "user_hash"))


def test_partial_mapper_hot_key_bounded(spark):
    """A single hot key streamed through many small Arrow batches must (a)
    never hold more than flush_keys sketches in flight, (b) produce partials
    whose merge is bit-equal to sketching all elements in one shot.  This is
    the 100x-scale contract: per-task memory is bounded by batch size +
    flush_keys * m regardless of key skew."""
    cfg = GHLLConfig(num_registers=256, q=62)
    n, batch = 40_000, 1_000
    vals = np.arange(n, dtype=np.int64) * 2_654_435_761  # spread i64 hashes

    def batches():
        for i in range(0, n, batch):
            yield pd.DataFrame({"k": "hot", "h": vals[i : i + batch]})

    mapper = make_partition_partial_mapper(cfg, ["k"], "h", flush_keys=1)
    emitted = list(mapper(batches()))
    # flush_keys=1 with a single key never triggers an early flush (1 !> 1),
    # so one partial per mapper; re-run with two interleaved keys to force
    # the flush path
    assert len(emitted) == 1

    def batches2():
        for i in range(0, n, batch):
            yield pd.DataFrame(
                {"k": ["hot", "cold"] * (batch // 2), "h": vals[i : i + batch]}
            )

    emitted2 = list(
        make_partition_partial_mapper(cfg, ["k"], "h", flush_keys=1)(batches2())
    )
    assert len(emitted2) == n // batch  # flushed once per batch
    # merged partials == single-shot sketch, bit-exact
    merged = {}
    for frame in emitted + emitted2:
        for r in frame.itertuples(index=False):
            st = np.frombuffer(r.sketch, dtype=np.uint8)
            merged[r.k] = np.maximum(merged.get(r.k, st), st)
    one_shot, _ = ghll_sketches_batch(
        u64_from_i64(vals), np.array([0, n]), cfg.num_registers, cfg.base, cfg.q, cfg.seed
    )
    # 'hot' saw every element across both runs; 'cold' saw the odd positions
    assert bytes(merged["hot"]) == one_shot[0].astype(np.uint8).tobytes()


def test_sketch_distinct_vs_builtin_hll(events):
    """Independent sanity check against Spark's built-in HLL++."""
    cfg = GHLLConfig(num_registers=1024, q=62)
    ours = {
        r["event_type"]: r["est_distinct"]
        for r in sketch_distinct(events, ["event_type"], "user_hash", cfg).collect()
    }
    builtin = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_hash", 0.02).alias("n"))
        .collect()
    }
    for k in EXACT:
        assert abs(ours[k] - builtin[k]) / builtin[k] < 0.15


@pytest.mark.parametrize("key", ["sketch", "est_distinct"])
def test_sketch_distinct_rejects_internal_key_names(spark, key):
    """A key named like one of sketch_distinct's own columns is refused by
    name, not silently overwritten by the estimate (`est_distinct`) or left
    to an AnalysisException (`sketch`)."""
    df = spark.createDataFrame([("a", 1)], schema=f"`{key}` string, h long")
    with pytest.raises(ValueError, match=key):
        sketch_distinct(df, [key], "h", GHLLConfig(num_registers=64))


def test_sketch_distinct_keeps_null_key_group(spark):
    """A NULL key value is a legitimate group (Spark groupBy and the DuckDB
    oracle both keep it), for a string key and for a numeric key, which
    pandas hands the partial loop as NaN: its merged sketch is the one-shot
    sketch of its elements."""
    cfg = GHLLConfig(num_registers=256, q=62)
    for key_type, a in (("string", "a"), ("bigint", 1)):
        rows = [(None, i) for i in range(50)] + [(a, i) for i in range(20)]
        df = spark.createDataFrame(rows, schema=f"g {key_type}, v long")
        hashed = df.repartition(3).withColumn("h", F.xxhash64("v"))
        got = {
            r["g"]: bytes(r["sketch"])
            for r in sketch_distinct(hashed, ["g"], "h", cfg).collect()
        }
        elements: dict = {}
        for r in hashed.collect():
            elements.setdefault(r["g"], []).append(r["h"])
        assert got.keys() == elements.keys() == {None, a}, key_type
        for key, hs in elements.items():
            regs, _ = ghll_sketches_batch(
                u64_from_i64(np.array(hs, dtype=np.int64)), np.array([0, len(hs)]),
                cfg.num_registers, cfg.base, cfg.q, cfg.seed,
            )
            assert got[key] == regs[0].tobytes(), (key_type, key)


def test_partial_mapper_one_null_key_partial_per_task():
    """NaN (pandas' NULL for a numeric key) never equals itself as a dict
    key: normalized once, a NULL key keeps ONE running state per task, so
    five batches still emit one NULL-key partial, not one per batch."""
    batches = [
        pd.DataFrame({"k": [np.nan, 1.0, np.nan], "h": np.arange(3, dtype=np.int64) + 3 * i})
        for i in range(5)
    ]
    bindings = [
        (make_partition_partial_mapper(GHLLConfig(num_registers=64, q=62), ["k"], "h"),
         "sketch"),
        (_partial_mapper(["k"], "h", "ks", _bottom_k_family(8)), "ks"),
    ]
    for mapper, col in bindings:
        out = pd.concat(list(mapper(iter(batches))), ignore_index=True)
        assert int(out["k"].isna().sum()) == 1, col
        assert len(out) == 2, col
