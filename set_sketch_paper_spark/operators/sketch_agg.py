"""Distinct-count sketching as an algebraic Spark aggregate.

Every sketch here is mergeable — registers element-wise min/max
(sketch.hpp:1020-1023), KMV by union-then-slice — which is Spark's
partial+final AggregateFunction contract (SURVEY.md §1.4).  Since PySpark
cannot register a custom JVM UDAF, we express the same two-level shape
explicitly:

  stage 1 (partial): mapInPandas over the input partitions — each task
                     sketches the elements it holds per key, accumulating one
                     running state per key across its Arrow batches
  stage 2 (final):   groupBy(keys) -> merge

Stage 1 is one loop, ``_partial_mapper``, for every sketch: a family plugs
in its batch kernel, its combine and its output encoding (the registers
below, bottom-k in operators/kmv.py).  It is PARTITION-BOUNDED: per-task
memory is O(batch + keys_in_flight * state) no matter how skewed the key
distribution is — a hot key with 10^10 elements still costs each task only
its own partition's share, because the elements never shuffle at all (only
fixed-size partial states do).  ``FLUSH_KEYS`` caps the number of in-flight
per-key states; when a partition holds more distinct keys than that,
accumulated partials are flushed downstream early (same spill-on-pressure
shape as Spark's own hash aggregate) — correct for any flush pattern since
merge is associative.

Estimates come from the register UDFs (functions/udfs.py).  Spark's built-in
approx_count_distinct (HLL++, b=2 only, no register access) is used in tests
as an independent sanity check, not as the implementation (SURVEY.md §4).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import MinHashConfig, SetSketchConfig
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

# per-key states a partial task holds before it flushes them downstream
FLUSH_KEYS = 65_536


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


def _register_family(cfg, is_minhash: bool):
    """(kernel, combine, encode) of a register sketch for _partial_mapper:
    int64 hashes -> (rows, m) states, element-wise merge, output cell."""
    if is_minhash:
        def kern(values, offsets):
            sigs, _ = minhash_batch(
                u64_from_i64(values), offsets, cfg.num_registers, cfg.seed, cfg.algo
            )
            return sigs
        return kern, np.minimum, lambda st: u64_to_i64(st).tolist()
    if isinstance(cfg, SetSketchConfig):
        def kern(values, offsets):
            regs, _ = setsketches_batch(
                u64_from_i64(values), offsets, cfg.num_registers, cfg.base, cfg.a,
                cfg.q, cfg.seed,
            )
            return regs
    else:
        def kern(values, offsets):
            regs, _ = ghll_sketches_batch(
                u64_from_i64(values), offsets, cfg.num_registers, cfg.base, cfg.q, cfg.seed
            )
            return regs
    return kern, np.maximum, np.ndarray.tobytes


def _partial_mapper(
    keys: list[str], value_col: str, state_col: str, family, flush_keys: int | None = None
):
    """mapInPandas function: per task, one running state per key tuple
    across its Arrow batches, emitted as (keys..., ``state_col``).

    ``family`` is (kernel, combine, encode): ``kernel(values, offsets)``
    maps int64 values grouped by key to one state per group, ``combine``
    merges two states of one key, ``encode`` turns a state into its output
    cell.  At most one Arrow batch of raw values plus ``flush_keys``
    (FLUSH_KEYS when None, read as the mapper is built) states are held."""
    kernel, combine, encode = family
    cap = FLUSH_KEYS if flush_keys is None else flush_keys

    def emit(acc: dict) -> pd.DataFrame:
        out = {k: [kv[i] for kv in acc] for i, k in enumerate(keys)}
        out[state_col] = [encode(st) for st in acc.values()]
        return pd.DataFrame(out)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, object] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = pdf.groupby(keys, sort=False, dropna=False).ngroup().to_numpy()
            order = np.argsort(codes, kind="stable")
            offsets = np.concatenate([[0], np.cumsum(np.bincount(codes))])
            states = kernel(pdf[value_col].to_numpy(dtype=np.int64)[order], offsets)
            key_rows = pdf[keys].iloc[order[offsets[:-1]]]
            # pandas hands a NULL key over as None or NaN, and NaN never
            # equals itself as a dict key: None keeps one running state for
            # it and lets Arrow write a genuine null, which groupBy keeps
            key_rows = key_rows.astype(object).where(key_rows.notna(), None)
            for kv, st in zip(key_rows.itertuples(index=False, name=None), states):
                prev = acc.get(kv)
                acc[kv] = st if prev is None else combine(prev, st)
            if len(acc) > cap:
                yield emit(acc)
                acc = {}
        if acc:
            yield emit(acc)

    return mapper


def make_partition_partial_mapper(
    cfg, keys: list[str], element_col: str, flush_keys: int | None = None
):
    """The register binding of ``_partial_mapper``: one partial sketch per
    key per partition (modulo early flushes) in a ``sketch`` column.
    Exposed so tests and benches can drive it with synthetic batches."""
    family = _register_family(cfg, _check_cfg(cfg))
    return _partial_mapper(keys, element_col, "sketch", family, flush_keys)


def sketch_distinct(df: DataFrame, keys: list[str], element_col: str, cfg) -> DataFrame:
    """Estimated distinct count of ``element_col`` (a 64-bit hash column)
    per key group: (keys..., est_distinct double, sketch).

    cfg: MinHashConfig (dense only), GHLLConfig, or SetSketchConfig —
    register sketches share the element-wise-max merge; dense MinHash
    merges element-wise min."""
    clash = sorted({"sketch", "est_distinct"} & set(keys))
    if clash:
        raise ValueError(
            f"sketch_distinct key column(s) {clash} clash with its internal "
            "sketch/estimate columns; rename them first"
        )
    is_minhash = _check_cfg(cfg)
    types = dict(df.dtypes)
    partial_schema = ", ".join(
        [f"`{k}` {types[k]}" for k in keys]
        + [f"sketch {'array<long>' if is_minhash else 'binary'}"]
    )
    partial = df.select(*keys, element_col).mapInPandas(
        make_partition_partial_mapper(cfg, keys, element_col), schema=partial_schema
    )
    merge_udf = make_merge_minhash_sigs_udf() if is_minhash else make_merge_registers_udf(cfg)
    card_udf = make_minhash_cardinality_udf() if is_minhash else make_register_cardinality_udf(cfg)
    merged = partial.groupBy(*keys).agg(merge_udf(F.collect_list("sketch")).alias("sketch"))
    return merged.withColumn("est_distinct", card_udf(F.col("sketch")))
