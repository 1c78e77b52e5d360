"""Distinct-count sketching as an algebraic Spark aggregate.

The whole point of the sketch family is that merge is commutative/idempotent
element-wise min/max (sketch.hpp:1020-1023) — exactly Spark's partial+final
AggregateFunction contract (SURVEY.md §1.4).  Since PySpark cannot register a
custom JVM UDAF, we express the same two-level shape explicitly:

  stage 1 (partial): mapInPandas over the input partitions — each task
                     sketches the elements it holds per key, accumulating one
                     running sketch per key across its Arrow batches
  stage 2 (final):   groupBy(keys) -> element-wise min/max merge

The partial stage is PARTITION-BOUNDED: per-task memory is
O(batch + keys_in_flight * m) no matter how skewed the key distribution is —
a hot key with 10^10 elements still costs each task only its own partition's
share, because the elements never shuffle at all (only fixed-size partial
sketches do).  ``flush_keys`` caps the number of in-flight per-key sketches;
when a partition holds more distinct keys than that, accumulated partials are
flushed downstream early (same spill-on-pressure shape as Spark's own hash
aggregate) — correct for any flush pattern since merge is associative.

For very wide clusters an optional intermediate merge tier (``merge_fanin``)
bounds the final collect_list at <= fanin sketches per key: partials first
merge within fanin buckets chosen by hashing the sketch bytes, then buckets
merge per key.  At local/test scale the default single merge is cheaper.

Estimates come from the register UDFs (functions/udfs.py).  Spark's built-in
approx_count_distinct (HLL++, b=2 only, no register access) is used in tests
as an independent sanity check, not as the implementation (SURVEY.md §4).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import GHLLConfig, MinHashConfig, SetSketchConfig
from ..functions.udfs import (
    make_merge_minhash_sigs_udf,
    make_merge_registers_udf,
    make_minhash_cardinality_udf,
    make_register_cardinality_udf,
)
from ..sketchlib.ghll import ghll_sketches_batch
from ..sketchlib.hashing import u64_from_i64, u64_to_i64
from ..sketchlib.minhash import minhash_batch
from ..sketchlib.setsketch import setsketches_batch


def _check_cfg(cfg) -> bool:
    """Returns is_minhash; rejects non-mergeable configs."""
    is_minhash = isinstance(cfg, MinHashConfig)
    if is_minhash and cfg.algo != "dense":
        # densified OPH bins carry values COPIED from other bins, so
        # min-merging two partials' densified signatures != the signature of
        # the union — only dense MinHash satisfies the algebraic-aggregate
        # merge contract (element-wise min, sketch.hpp:1599-1603)
        raise ValueError(
            "sketch_distinct requires MinHashConfig(algo='dense'): densified "
            "OPH signatures are not element-wise-min mergeable"
        )
    return is_minhash


def _batch_kernel(cfg, is_minhash: bool):
    """(uint64 elements, offsets) -> (rows, m) partial states, plus the
    element-wise combine that merges two states of this family."""
    if is_minhash:
        def kern(elements, offsets):
            sigs, _ = minhash_batch(elements, offsets, cfg.num_registers, cfg.seed, cfg.algo)
            return sigs
        return kern, np.minimum
    if isinstance(cfg, SetSketchConfig):
        def kern(elements, offsets):
            regs, _ = setsketches_batch(
                elements, offsets, cfg.num_registers, cfg.base, cfg.a, cfg.q, cfg.seed
            )
            return regs
        return kern, np.maximum
    def kern(elements, offsets):
        regs, _ = ghll_sketches_batch(
            elements, offsets, cfg.num_registers, cfg.base, cfg.q, cfg.seed
        )
        return regs
    return kern, np.maximum


def make_partition_partial_mapper(
    cfg, keys: list[str], element_col: str, flush_keys: int = 65_536
):
    """mapInPandas function: one partial sketch per key per partition
    (modulo early flushes), never materializing more than one Arrow batch of
    raw elements plus ``flush_keys`` fixed-size sketches at a time.

    Exposed at module level (not a closure detail) so tests can drive it
    directly with synthetic batch iterators and assert the flush behavior.
    """
    is_minhash = _check_cfg(cfg)
    kern, combine = _batch_kernel(cfg, is_minhash)

    def _emit(acc: dict) -> pd.DataFrame:
        out = {k: [kv[i] for kv, _ in acc.values()] for i, k in enumerate(keys)}
        if is_minhash:
            out["sketch"] = [u64_to_i64(st).tolist() for _, st in acc.values()]
        else:
            out["sketch"] = [st.tobytes() for _, st in acc.values()]
        return pd.DataFrame(out)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, tuple] = {}  # key tuple -> (key values, state array)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = pdf.groupby(keys, sort=False, dropna=False).ngroup().to_numpy()
            order = np.argsort(codes, kind="stable")
            elements = u64_from_i64(pdf[element_col].to_numpy(dtype=np.int64))[order]
            counts = np.bincount(codes)
            offsets = np.concatenate([[0], np.cumsum(counts)])
            states = kern(elements, offsets)
            key_rows = pdf.iloc[order[offsets[:-1]]][keys]
            for i, kv in enumerate(key_rows.itertuples(index=False, name=None)):
                prev = acc.get(kv)
                if prev is None:
                    acc[kv] = (kv, states[i])
                else:
                    acc[kv] = (kv, combine(prev[1], states[i]))
            if len(acc) > flush_keys:
                yield _emit(acc)
                acc = {}
        if acc:
            yield _emit(acc)

    return mapper


def sketch_distinct(
    df: DataFrame,
    keys: list[str],
    element_col: str,
    cfg,
    use_ml: bool = False,
    merge_fanin: int | None = None,
    flush_keys: int = 65_536,
) -> DataFrame:
    """Estimated distinct count of ``element_col`` (a 64-bit hash column)
    per key group: (keys..., est_distinct double, sketch).

    cfg: MinHashConfig (dense only), GHLLConfig, or SetSketchConfig —
    register sketches share the element-wise-max merge; dense MinHash
    merges element-wise min.

    ``merge_fanin``: when set (e.g. 64 on a 1000-executor cluster), inserts
    an intermediate merge tier so no final-merge group collects more than
    ~fanin partial sketches even if a key appears in every task's partials.
    """
    internal = {"sketch", "est_distinct"} | ({"_mb"} if merge_fanin else set())
    clash = sorted(internal & set(keys))
    if clash:
        raise ValueError(
            f"sketch_distinct key column(s) {clash} clash with its internal "
            "sketch/estimate/merge-bucket columns; rename them first"
        )
    is_minhash = _check_cfg(cfg)
    state_type = "array<long>" if is_minhash else "binary"
    partial_schema = ", ".join(
        [f"`{k}` {t}" for k, t in zip(keys, _key_types(df, keys))]
        + [f"sketch {state_type}"]
    )
    partial = df.select(*keys, element_col).mapInPandas(
        make_partition_partial_mapper(cfg, keys, element_col, flush_keys),
        schema=partial_schema,
    )
    merge_udf = make_merge_minhash_sigs_udf() if is_minhash else make_merge_registers_udf(cfg)
    if merge_fanin:
        # bucket partials by a hash of the sketch itself (content-derived, no
        # extra column to carry) and pre-merge within buckets: <= fanin rows
        # per key reach the final merge regardless of task count
        partial = (
            partial.withColumn("_mb", F.pmod(F.hash("sketch").cast("long"), F.lit(merge_fanin)))
            .groupBy(*keys, "_mb")
            .agg(merge_udf(F.collect_list("sketch")).alias("sketch"))
            .drop("_mb")
        )
    merged = partial.groupBy(*keys).agg(
        merge_udf(F.collect_list("sketch")).alias("sketch")
    )
    card_udf = (
        make_minhash_cardinality_udf()
        if is_minhash
        else make_register_cardinality_udf(cfg, use_ml=use_ml)
    )
    return merged.withColumn("est_distinct", card_udf(F.col("sketch")))


def _key_types(df: DataFrame, keys: list[str]) -> list[str]:
    m = dict(df.dtypes)
    return [m[k] for k in keys]
