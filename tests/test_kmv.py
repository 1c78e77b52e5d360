"""KMV (bottom-k) sketch: hash parity, layout invariance, partial+final
merge correctness, estimator accuracy, Jaccard estimator, and plan shape.

The DuckDB value parity of the three kmv_* queries is covered by
tests/test_queries_oracle.py (they are oracle-backed); here we pin the
operator semantics against local brute force and the scale-shape contract.
"""

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row, functions as F

from set_sketch_paper_spark.operators import sketch_agg
from set_sketch_paper_spark.operators.kmv import (
    kmv_distinct,
    kmv_from_array,
    kmv_hash_col,
    kmv_jaccard_cols,
    with_kmv_estimate,
)


def md5_60(value) -> int:
    return int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)


def bottom_k(values, k):
    return sorted({md5_60(v) for v in values})[:k]


def test_hash_col_matches_md5_prefix(spark):
    vals = ["a", "hello world", "42", ""]
    df = spark.createDataFrame([Row(v=v) for v in vals])
    got = {r["v"]: r["h"] for r in df.select("v", kmv_hash_col("v").alias("h")).collect()}
    for v in vals:
        assert got[v] == md5_60(v), v


def test_kmv_distinct_matches_brute_force_and_layout_invariant(spark):
    rng = np.random.RandomState(7)
    rows = [
        Row(g=f"g{i % 3}", v=int(x))
        for i, x in enumerate(rng.randint(0, 500, size=2000))
    ]
    df = spark.createDataFrame(rows)
    expected = {
        g: bottom_k([v for r in rows if r.g == g for v in [r.v]], 16)
        for g in {"g0", "g1", "g2"}
    }
    for parts in (1, 7):
        got = {
            r["g"]: list(r["ks"])
            for r in kmv_distinct(df.repartition(parts), "g", "v", k=16).collect()
        }
        assert got == expected, parts


def test_kmv_distinct_flush_cap_and_null_values(spark, monkeypatch):
    # the partial loop reads its flush cap when kmv_distinct builds it
    monkeypatch.setattr(sketch_agg, "FLUSH_KEYS", 1)
    rows = [Row(g="a", v=i) for i in range(300)] + [Row(g="b", v=None)]
    df = spark.createDataFrame(rows, schema="g string, v int")
    out = {
        r["g"]: list(r["ks"])
        for r in kmv_distinct(df, "g", "v", k=8).collect()
    }
    assert out["a"] == bottom_k(range(300), 8)
    # the all-NULL key contributes no elements and therefore no row
    assert "b" not in out


def test_kmv_distinct_keeps_null_key_group(spark):
    """ADVICE r5: a NULL key value is a legitimate group (Spark groupBy and
    the DuckDB oracle both keep it) — the pandas partials must not silently
    drop those rows."""
    rows = [Row(g=None, v=i) for i in range(50)] + [Row(g="a", v=i) for i in range(20)]
    df = spark.createDataFrame(rows, schema="g string, v int")
    out = {r["g"]: list(r["ks"]) for r in kmv_distinct(df, "g", "v", k=8).collect()}
    assert out[None] == bottom_k(range(50), 8)
    assert out["a"] == bottom_k(range(20), 8)


@pytest.mark.parametrize("key", ["__v", "__h"])
def test_kmv_distinct_rejects_internal_column_names(spark, key):
    """A caller key named like kmv_distinct's internal value/hash column is
    refused by name, not left to an ambiguous-reference AnalysisException."""
    df = spark.createDataFrame([(1, 2)], schema=f"{key} int, v int")
    with pytest.raises(ValueError, match=key):
        kmv_distinct(df, key, "v")


def test_kmv_from_array_drops_null_elements(spark):
    """ADVICE r5: NULL is not a set element — kmv_from_array must match the
    DuckDB twin's list_distinct behavior (which removes NULLs) instead of
    keeping a NULL hash in the bottom-k array."""
    df = spark.createDataFrame(
        [Row(a=["x", None, "y", None])], schema="a array<string>"
    )
    got = list(df.select(kmv_from_array(F.col("a"), 8).alias("ks")).collect()[0]["ks"])
    assert got == bottom_k(["x", "y"], 8)
    assert None not in got


def test_estimator_exact_below_k_and_statistical_above(spark):
    rows = [Row(g="small", v=i) for i in range(20)] + [
        Row(g="big", v=i) for i in range(20_000)
    ]
    df = spark.createDataFrame(rows)
    sk = kmv_distinct(df, "g", "v", k=256)
    got = {r["g"]: r.asDict() for r in with_kmv_estimate(sk, 256).collect()}
    assert got["small"]["n_sk"] == 20
    assert got["small"]["est_q"] == 20 * 1_000_000
    # RSE ~ 1/sqrt(k-2) = 6.3%; allow 4 sigma
    est = got["big"]["est_q"] / 1e6
    assert abs(est - 20_000) / 20_000 < 0.25, est


def test_map_side_kmv_and_jaccard_estimator(spark):
    a = [f"w{i}" for i in range(200)]
    b = [f"w{i}" for i in range(100, 300)]  # true J = 100/300
    df = spark.createDataFrame([Row(id=1, arr=a), Row(id=2, arr=b)])
    sk = df.select("id", kmv_from_array(F.col("arr"), 64).alias("ks"))
    got = {r["id"]: list(r["ks"]) for r in sk.collect()}
    assert got[1] == bottom_k(a, 64)
    assert got[2] == bottom_k(b, 64)
    pair = (
        sk.filter(F.col("id") == 1)
        .select(F.col("ks").alias("ks1"))
        .crossJoin(sk.filter(F.col("id") == 2).select(F.col("ks").alias("ks2")))
    )
    m, u, jq = kmv_jaccard_cols(F.col("ks1"), F.col("ks2"), 64)
    row = pair.select(
        m.alias("m"), u.alias("u"), jq.alias("jq")
    ).collect()[0]
    # brute-force twin of the bottom-k-union estimator
    u_ref = sorted(set(bottom_k(a, 64)) | set(bottom_k(b, 64)))[:64]
    m_ref = len(set(u_ref) & set(bottom_k(a, 64)) & set(bottom_k(b, 64)))
    assert row["u"] == len(u_ref) == 64
    assert row["m"] == m_ref
    assert row["jq"] == (2_000_000 * m_ref + 64) // (2 * 64)
    # and the estimate is in the right neighborhood of the true 1/3
    assert abs(row["m"] / row["u"] - 1 / 3) < 0.2


def test_plan_shapes(spark):
    """Aggregate path: elements never shuffle — exactly ONE Exchange (the
    partial-state groupBy).  Map-side path: ZERO Exchange."""
    rows = [Row(g=f"g{i % 3}", v=i) for i in range(100)]
    agg = kmv_distinct(spark.createDataFrame(rows), "g", "v", k=16)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:2000]

    arr = spark.createDataFrame([Row(id=1, arr=["a", "b"])])
    mp = arr.select(kmv_from_array(F.col("arr"), 4).alias("ks"))
    plan2 = mp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2, plan2[:1200]


def test_kmv_doc_cardinality_rse_matches_theory(spark, sf_dir):
    """Corpus-level accuracy gate: over full-sketch docs the relative error
    of est_q vs the exact n_grams should have RMSE within ~2x the
    theoretical RSE 1/sqrt(k-2) (Beyer et al. 2007)."""
    import __spark_entry__ as entrymod

    pdf = entrymod.queries()["kmv_doc_cardinality"](spark, sf_dir).toPandas()
    full = pdf[pdf.n_sk == 32]
    assert len(full) > 50, "corpus should have many >k-gram docs"
    rel = (full.est_q / 1e6 - full.n_grams) / full.n_grams
    rse = (rel**2).mean() ** 0.5
    theory = 1 / (32 - 2) ** 0.5
    assert rse < 2 * theory, (rse, theory)
    # and the estimator is not systematically biased beyond half an RSE
    assert abs(rel.mean()) < theory / 2 + 0.05, rel.mean()


def test_kmv_setops_estimator_brute_force_and_accuracy(spark):
    """Theta-style |A∪B| / |A∩B| / |A\\B| from bottom-k sketches vs a
    python twin of the same math, and accuracy vs ground truth."""
    from set_sketch_paper_spark.operators.kmv import kmv_setops_cols

    a = [f"w{i}" for i in range(300)]
    b = [f"w{i}" for i in range(200, 500)]  # |A∪B|=500 |A∩B|=100 |A\B|=200
    k = 64
    df = spark.createDataFrame([Row(arr1=a, arr2=b)])
    sk = df.select(
        kmv_from_array(F.col("arr1"), k).alias("ks1"),
        kmv_from_array(F.col("arr2"), k).alias("ks2"),
    )
    uq, iq, aq = kmv_setops_cols(F.col("ks1"), F.col("ks2"), k)
    row = sk.select(uq.alias("u"), iq.alias("i"), aq.alias("d")).collect()[0]

    ka, kb = bottom_k(a, k), bottom_k(b, k)
    u = sorted(set(ka) | set(kb))[:k]
    theta = u[-1]
    below = u[: k - 1]
    c = float(2**60 * 1_000_000)
    import math
    want_u = math.floor((k - 1) * c / theta)
    want_i = math.floor(len([h for h in below if h in set(ka) and h in set(kb)]) * c / theta)
    want_d = math.floor(len([h for h in below if h not in set(kb)]) * c / theta)
    assert (row["u"], row["i"], row["d"]) == (want_u, want_i, want_d)
    # 4-sigma-ish accuracy vs truth at k=64 (RSE ~ 12.7%)
    assert abs(row["u"] / 1e6 - 500) / 500 < 0.5
    assert abs(row["d"] / 1e6 - 200) / 200 < 0.6


# --- pure-python property test (no Spark): the partial/merge algebra ---

from hypothesis import given, settings, strategies as st


@settings(max_examples=200, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=300),
    k=st.integers(min_value=1, max_value=32),
    n_batches=st.integers(min_value=1, max_value=5),
    flush=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
def test_partial_merge_algebra_property(vals, k, n_batches, flush, data):
    """For ANY value multiset, batch split, flush cap, and key mix: merging
    the emitted partial states equals the one-shot state per key — for the
    bottom-k binding of the one per-key partial loop (union -> distinct ->
    sort -> slice k == brute-force bottom-k) and for its GHLL binding
    (element-wise max == one-shot registers).  The invariant that makes
    kmv_distinct and sketch_distinct partitioning- and flush-invariant."""
    import pandas as pd
    from set_sketch_paper_spark.config import GHLLConfig
    from set_sketch_paper_spark.operators.kmv import _bottom_k_family
    from set_sketch_paper_spark.sketchlib.ghll import ghll_sketches_batch
    from set_sketch_paper_spark.sketchlib.hashing import u64_from_i64

    keys = [data.draw(st.sampled_from(["x", "y"])) for _ in vals]
    hashes = [md5_60(v) for v in vals]
    df = pd.DataFrame({"g": keys, "__h": pd.array(hashes, dtype="int64")})
    cuts = sorted(data.draw(
        st.lists(st.integers(0, len(df)), min_size=n_batches - 1, max_size=n_batches - 1)
    ))
    batches = [
        df.iloc[a:b].reset_index(drop=True)
        for a, b in zip([0] + cuts, cuts + [len(df)])
    ]
    cfg = GHLLConfig(num_registers=64, q=62)

    def ghll_one_shot(hs):
        regs, _ = ghll_sketches_batch(
            u64_from_i64(np.array(hs, dtype=np.int64)), np.array([0, len(hs)]),
            cfg.num_registers, cfg.base, cfg.q, cfg.seed,
        )
        return regs[0].tobytes()

    bindings = [
        (sketch_agg._partial_mapper(["g"], "__h", "ks", _bottom_k_family(k), flush),
         lambda states: sorted(set().union(*states))[:k],
         lambda hs: sorted(set(hs))[:k]),
        (sketch_agg.make_partition_partial_mapper(cfg, ["g"], "__h", flush_keys=flush),
         lambda states: np.maximum.reduce(
             [np.frombuffer(s, dtype=np.uint8) for s in states]).tobytes(),
         ghll_one_shot),
    ]
    for mapper, merge, one_shot in bindings:
        states: dict[str, list] = {}
        for out in mapper(iter(batches)):
            for row in out.itertuples(index=False, name=None):
                states.setdefault(row[0], []).append(row[1])
        assert states.keys() == set(keys)
        for g, sts in states.items():
            want = one_shot([h for kk, h in zip(keys, hashes) if kk == g])
            assert merge(sts) == want, (g, k, flush)
