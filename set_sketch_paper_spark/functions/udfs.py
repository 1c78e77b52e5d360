"""Vectorized Arrow UDFs wrapping the numpy sketch kernels.

Per BASELINE.json input_hint: no per-row Python UDFs anywhere — every UDF
here is Arrow-batched, and all per-batch work is numpy on flat
(values, offsets) arrays.  Content-level hashing that Spark can do JVM-side
(sha2, xxhash64) is NOT done here — see operators/.

The MinHash signature UDF, the flagship's hot path, is an ``arrow_udf``: it
hands the batch's content ``pa.Array`` to the Arrow tokenizer and builds its
result struct from numpy buffers, with no pandas and no per-row objects.
The other UDFs are ``pandas_udf``s.  ``pyarrow`` is imported at module level
because ``arrow_udf`` resolves the ``pa.Array`` type hints (strings, under
``from __future__ import annotations``) in this module's globals.

Signature UDFs return a struct column so one pass over the content produces
signature + LSH band hashes + shingle count together (tokenization is the
expensive part; never run it twice).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..config import GHLLConfig, MinHashConfig, PipelineConfig, SetSketchConfig, ShingleConfig
from ..sketchlib.estimators import (
    MinHashJointEstimator,
    get_setsketch_estimator,
)
from ..sketchlib.ghll import ghll_sketches_batch
from ..sketchlib.hashing import u64_from_i64, u64_to_i64
from ..sketchlib.minhash import band_hashes, minhash_batch, minhash_cardinality
from ..sketchlib.setsketch import setsketches_batch
from ..sketchlib.shingle import shingle_sets_batch

SIGNATURE_STRUCT = StructType(
    [
        StructField("sig", BinaryType(), False),
        StructField("bands", ArrayType(LongType()), False),
        StructField("n_shingles", IntegerType(), False),
    ]
)
# the exact Arrow type Spark expects back (non-null fields, list<element>),
# so the worker never casts the result
_SIGNATURE_ARROW = to_arrow_type(SIGNATURE_STRUCT)


def make_minhash_signature_udf(pcfg: PipelineConfig):
    """content:string -> struct(sig binary, bands array<long>, n_shingles int).

    An Arrow UDF end to end: the content column reaches the tokenizer as
    the batch's ``pa.Array`` and the struct is assembled from numpy buffers,
    so no per-row Python object is made on either side of the boundary.

    ``sig`` is the little-endian uint64 register buffer as ONE binary blob
    per row: the (rows, m) matrix buffer with fixed-stride offsets.  As
    array<long> a 128-register signature costs a 128-slot list per row.
    ``bands`` stays array<long> (short, and posexplode needs an array
    JVM-side): one ListArray over the flat (rows, bands) matrix.
    """
    sh, mh, lsh = pcfg.shingle, pcfg.minhash, pcfg.lsh

    @F.arrow_udf(SIGNATURE_STRUCT)
    def _udf(content: pa.Array) -> pa.Array:
        values, offsets = shingle_sets_batch(
            content, sh.k, sh.token_pattern, sh.lowercase, sh.seed
        )
        sigs, sizes = minhash_batch(values, offsets, mh.num_registers, mh.seed, mh.algo)
        bands = band_hashes(sigs, lsh.num_bands, lsh.rows_per_band, lsh.seed)
        n = len(sizes)
        sig = pa.Array.from_buffers(
            pa.binary(), n,
            [None,
             pa.py_buffer(np.arange(n + 1, dtype=np.int32) * np.int32(8 * mh.num_registers)),
             pa.py_buffer(np.ascontiguousarray(sigs))],
        )
        band_list = pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * np.int32(lsh.num_bands)),
            pa.array(u64_to_i64(bands).ravel()),
            type=_SIGNATURE_ARROW.field("bands").type,
        )
        return pa.StructArray.from_arrays(
            [sig, band_list, pa.array(sizes.astype(np.int32))],
            fields=list(_SIGNATURE_ARROW),
        )

    return _udf


def make_register_sketch_udf(cfg, shingle_cfg: ShingleConfig):
    """content:string -> binary register array (GHLL or SetSketch1).

    The binary payload is the little-endian numpy buffer of uint8/uint16
    registers (SURVEY.md §1.2 recommends BinaryType for register state).
    """
    is_ghll = isinstance(cfg, GHLLConfig)

    @F.pandas_udf(BinaryType())
    def _udf(content: pd.Series) -> pd.Series:
        values, offsets = shingle_sets_batch(
            content.tolist(), shingle_cfg.k, shingle_cfg.token_pattern,
            shingle_cfg.lowercase, shingle_cfg.seed,
        )
        if is_ghll:
            regs, _ = ghll_sketches_batch(
                values, offsets, cfg.num_registers, cfg.base, cfg.q, cfg.seed
            )
        else:
            regs, _ = setsketches_batch(
                values, offsets, cfg.num_registers, cfg.base, cfg.a, cfg.q, cfg.seed
            )
        return pd.Series([r.tobytes() for r in regs])

    return _udf


def make_hyperminhash_sketch_udf(cfg, shingle_cfg: ShingleConfig):
    """content:string -> binary HyperMinHash register array (uint32 LE)."""
    from ..sketchlib.hyperminhash import hyperminhash_sketches_batch

    @F.pandas_udf(BinaryType())
    def _udf(content: pd.Series) -> pd.Series:
        values, offsets = shingle_sets_batch(
            content.tolist(), shingle_cfg.k, shingle_cfg.token_pattern,
            shingle_cfg.lowercase, shingle_cfg.seed,
        )
        regs, _ = hyperminhash_sketches_batch(
            values, offsets, cfg.bucketbits, cfg.bucketsize, cfg.subbucketsize, cfg.seed
        )
        return pd.Series([r.tobytes() for r in regs])

    return _udf


def make_hyperminhash_cardinality_udf(cfg, method: str = "new"):
    """binary HyperMinHash registers -> cardinality estimate
    (sketch.hpp:1823-1845)."""
    from ..sketchlib.hyperminhash import HyperMinHashEstimator

    @F.pandas_udf(DoubleType())
    def _udf(states: pd.Series) -> pd.Series:
        est = HyperMinHashEstimator(cfg.bucketbits, cfg.bucketsize, cfg.subbucketsize)
        mat = np.vstack([np.frombuffer(s, dtype=np.uint32) for s in states])
        vals = est.cardinality_new(mat) if method == "new" else est.cardinality_original(mat)
        return pd.Series(vals)

    return _udf


def make_merge_registers_udf(cfg):
    """array-of-binary -> binary: element-wise max merge of register states
    (sketch.hpp:876-881) — the *final* stage of the algebraic aggregate."""
    dtype = np.dtype(cfg.dtype)

    @F.pandas_udf(BinaryType())
    def _udf(states: pd.Series) -> pd.Series:
        out = []
        for group in states:
            arrs = [np.frombuffer(s, dtype=dtype) for s in group]
            out.append(np.maximum.reduce(arrs).tobytes())
        return pd.Series(out)

    return _udf


def make_merge_minhash_sigs_udf():
    """array-of-array<long> -> array<long>: element-wise min merge."""

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(sigs: pd.Series) -> pd.Series:
        out = []
        for group in sigs:
            arrs = [u64_from_i64(np.asarray(s, dtype=np.int64)) for s in group]
            out.append(u64_to_i64(np.minimum.reduce(arrs)))
        return pd.Series(out)

    return _udf


def _sig_matrix(sigs: pd.Series) -> np.ndarray:
    """Signature column -> (rows, m) uint64 matrix.  Accepts both on-wire
    layouts: BinaryType blobs (SIGNATURE_STRUCT's ``sig``, little-endian
    uint64 buffer) and array<long> (the grouped-aggregate path)."""
    if len(sigs) == 0:
        return np.empty((0, 0), dtype=np.uint64)
    first = sigs.iloc[0]
    if isinstance(first, (bytes, bytearray)):
        return np.frombuffer(b"".join(sigs), dtype=np.uint64).reshape(len(sigs), -1)
    return u64_from_i64(np.array([np.asarray(s, dtype=np.int64) for s in sigs]))


def make_minhash_cardinality_udf():
    """sig (binary or array<long>) -> estimated set cardinality
    (sketch.hpp:1383-1389).  Valid for DENSE signatures only: OPH densified
    registers are copies of other bins' minima, not independent per-register
    minima, so the harmonic estimator is biased — callers on the OPH path
    carry the exact n_shingles column instead."""

    @F.pandas_udf(DoubleType())
    def _udf(sigs: pd.Series) -> pd.Series:
        return pd.Series(minhash_cardinality(_sig_matrix(sigs)))

    return _udf


def make_register_cardinality_udf(cfg):
    """binary registers -> simple cardinality estimate (sketch.hpp:320-338)."""
    is_ghll = isinstance(cfg, GHLLConfig)
    a = (1.0 / cfg.num_registers) if is_ghll else cfg.a
    dtype = np.dtype(cfg.dtype)

    @F.pandas_udf(DoubleType())
    def _udf(states: pd.Series) -> pd.Series:
        est = get_setsketch_estimator(
            cfg.q, a, cfg.base, cfg.num_registers, is_ghll, False, False
        )
        mat = np.vstack([np.frombuffer(s, dtype=dtype) for s in states])
        return pd.Series(est.cardinality_simple(mat))

    return _udf


PAIR_ESTIMATE_STRUCT = StructType(
    [
        StructField("est_jaccard", DoubleType(), False),
        StructField("est_intersection", DoubleType(), False),
        StructField("est_union", DoubleType(), False),
        StructField("est_cosine", DoubleType(), False),
    ]
)


def make_minhash_pair_estimator_udf(mh: MinHashConfig, method: str = "original"):
    """(sig1 binary, sig2 binary, n1 int, n2 int) -> struct of joint
    estimates, where n1/n2 are the EXACT per-document shingle counts carried
    in the signature struct (known-set-cardinality estimation,
    sketch.hpp:1452 estimateJointOriginalWithKnownSetCardinalities).

    method: 'original' (equal-register fraction, sketch.hpp:1452-1461),
    'new' (closed-form ML, sketch.hpp:1475-1503), or 'incl_excl'.
    All fully vectorized across the Arrow batch.

    OPH guard: densified OPH registers are copies of other bins' minima, so
    the register-comparison counts behind 'new' and the min-merge union
    behind 'incl_excl' are dense-only semantics; only the equal-register
    fraction ('original') is a valid Jaccard estimator for OPH signatures
    (Shrivastava & Li ICML'14).
    """
    if mh.algo == "oph" and method != "original":
        raise ValueError(
            f"estimator method {method!r} requires dense MinHash signatures; "
            "OPH supports only 'original' (equal-register fraction)"
        )
    est = MinHashJointEstimator(mh.num_registers)
    fn = {"original": est.joint_original, "new": est.joint_new, "incl_excl": est.joint_incl_excl}[method]

    @F.pandas_udf(PAIR_ESTIMATE_STRUCT)
    def _udf(sig1: pd.Series, sig2: pd.Series, n1: pd.Series, n2: pd.Series) -> pd.DataFrame:
        cols = ["est_jaccard", "est_intersection", "est_union", "est_cosine"]
        if len(sig1) == 0:
            return pd.DataFrame({c: pd.Series(dtype=np.float64) for c in cols})
        m1 = np.frombuffer(b"".join(sig1), dtype=np.uint64).reshape(len(sig1), -1)
        m2 = np.frombuffer(b"".join(sig2), dtype=np.uint64).reshape(len(sig2), -1)
        r = fn(
            m1, m2,
            card1=n1.to_numpy(dtype=np.float64),
            card2=n2.to_numpy(dtype=np.float64),
        )
        return pd.DataFrame(
            {
                "est_jaccard": r["jaccard"],
                "est_intersection": r["intersection"],
                "est_union": r["union"],
                "est_cosine": r["cosine"],
            }
        )

    # Nondeterministic so the optimizer cannot push a Filter on the estimate
    # (verified_pairs' threshold) below the projection: for a deterministic
    # UDF it inlines the call into the Filter, and every candidate crosses
    # the Python boundary twice, once for the Filter and once for the output
    return _udf.asNondeterministic()


BOUNDS_STRUCT = StructType(
    [
        StructField("jaccard_lower", DoubleType(), False),
        StructField("jaccard_upper", DoubleType(), False),
    ]
)


def make_register_bounds_udf(cfg):
    """(bin1, bin2) -> closed-form Jaccard lower/upper bounds from the
    equal-register fraction (sketch.hpp:701-719) — the vectorized LSH
    pre-filter exposed as a pair estimator."""
    is_ghll = isinstance(cfg, GHLLConfig)
    a = (1.0 / cfg.num_registers) if is_ghll else cfg.a
    dtype = np.dtype(cfg.dtype)

    @F.pandas_udf(BOUNDS_STRUCT)
    def _udf(st1: pd.Series, st2: pd.Series) -> pd.DataFrame:
        if len(st1) == 0:
            return pd.DataFrame(
                {c: pd.Series(dtype=np.float64) for c in ("jaccard_lower", "jaccard_upper")}
            )
        est = get_setsketch_estimator(
            cfg.q, a, cfg.base, cfg.num_registers, is_ghll, False, False
        )
        m1 = np.vstack([np.frombuffer(s, dtype=dtype) for s in st1])
        m2 = np.vstack([np.frombuffer(s, dtype=dtype) for s in st2])
        lo, up = est.jaccard_bounds_equal_registers(m1, m2)
        return pd.DataFrame({"jaccard_lower": lo, "jaccard_upper": up})

    return _udf


def make_bbit_compaction_udf(bits: int = 8):
    """sig:binary (uint64 registers) -> binary of b-bit compacted registers
    (Li & Koenig b-bit minwise hashing; sketchlib/minhash.py::bbit_signature).
    Shrinks LSH band material 8x at bits=8."""
    from ..sketchlib.minhash import bbit_signature

    @F.pandas_udf(BinaryType())
    def _udf(sigs: pd.Series) -> pd.Series:
        if len(sigs) == 0:
            return pd.Series([], dtype=object)
        mat = np.frombuffer(b"".join(sigs), dtype=np.uint64).reshape(len(sigs), -1)
        return pd.Series([row.tobytes() for row in bbit_signature(mat, bits=bits)])

    return _udf


def make_hyperminhash_pair_estimator_udf(cfg, method: str = "original"):
    """(bin1, bin2) -> struct of joint estimates for HyperMinHash states.

    method 'original': collision-corrected match-fraction estimator
    (sketch.hpp:1785-1821); 'new': joint ML over the GHLL-state transform
    (sketch.hpp:1837-1849).  Both vectorized over the Arrow batch (the
    collision estimate's level loop is <= 2^bucketsize iterations).
    """
    from ..sketchlib.hyperminhash import HyperMinHashEstimator

    @F.pandas_udf(PAIR_ESTIMATE_STRUCT)
    def _udf(st1: pd.Series, st2: pd.Series) -> pd.DataFrame:
        cols = ["est_jaccard", "est_intersection", "est_union", "est_cosine"]
        if len(st1) == 0:
            return pd.DataFrame({c: pd.Series(dtype=np.float64) for c in cols})
        est = HyperMinHashEstimator(cfg.bucketbits, cfg.bucketsize, cfg.subbucketsize)
        m1 = np.vstack([np.frombuffer(s, dtype=np.uint32) for s in st1])
        m2 = np.vstack([np.frombuffer(s, dtype=np.uint32) for s in st2])
        r = est.joint_original(m1, m2) if method == "original" else est.joint_new(m1, m2)
        return pd.DataFrame(
            {
                "est_jaccard": r["jaccard"],
                "est_intersection": r["intersection"],
                "est_union": r["union"],
                "est_cosine": r["cosine"],
            }
        )

    return _udf


PAIR_DECISION_STRUCT = StructType(
    [
        StructField("est_jaccard", DoubleType(), False),
        StructField("est_intersection", DoubleType(), False),
        StructField("est_union", DoubleType(), False),
        StructField("est_cosine", DoubleType(), False),
        StructField("jaccard_lower", DoubleType(), False),
        StructField("jaccard_upper", DoubleType(), False),
        StructField("passed", BooleanType(), False),
        StructField("solved", BooleanType(), False),
    ]
)


def make_register_pair_estimator_udf(
    cfg, method: str = "new", joint_corr: bool = True, threshold: float | None = None
):
    """(bin1, bin2) -> struct of joint estimates for GHLL/SetSketch states.

    method 'new' runs the pair ML solve (sketch.hpp:484-522), batched across
    the Arrow batch via golden_min_batch.  method 'incl_excl' is closed-form.

    ``threshold`` switches on SURVEY §7.3's composed decision path
    (joint_new_prefiltered): the vectorized equal-register bounds
    (sketch.hpp:701-719) decide every pair conclusively above/below the
    threshold and the ML solver runs ONLY on the straddling band — the
    output gains (jaccard_lower, jaccard_upper, passed, solved) and
    downstream filters should use ``passed``, not est_jaccard >= t.

    ``joint_corr`` enables the mu() range-corrected likelihood
    (sketch.hpp:578-633) for pairs with registers at the 0 lower bound —
    small shingle sets relative to m, i.e. short documents (the reference
    ships it behind the estimator's useJointRangeCorrection flag,
    sketch.hpp:925 comment).
    """
    is_ghll = isinstance(cfg, GHLLConfig)
    a = (1.0 / cfg.num_registers) if is_ghll else cfg.a
    dtype = np.dtype(cfg.dtype)
    if threshold is not None and method != "new":
        raise ValueError("threshold pre-filtering composes with method='new' only")

    out_struct = PAIR_ESTIMATE_STRUCT if threshold is None else PAIR_DECISION_STRUCT

    @F.pandas_udf(out_struct)
    def _udf(st1: pd.Series, st2: pd.Series) -> pd.DataFrame:
        est = get_setsketch_estimator(
            cfg.q, a, cfg.base, cfg.num_registers, is_ghll, joint_corr, False
        )
        m1 = np.vstack([np.frombuffer(s, dtype=dtype) for s in st1])
        m2 = np.vstack([np.frombuffer(s, dtype=dtype) for s in st2])
        if threshold is not None:
            r, passed, solved = est.joint_new_prefiltered(m1, m2, threshold)
        else:
            r = est.joint_new(m1, m2) if method == "new" else est.joint_incl_excl(m1, m2)
        out = {
            "est_jaccard": r["jaccard"],
            "est_intersection": r["intersection"],
            "est_union": r["union"],
            "est_cosine": r["cosine"],
        }
        if threshold is not None:
            out.update(
                jaccard_lower=r["jaccard_lower"],
                jaccard_upper=r["jaccard_upper"],
                passed=passed,
                solved=solved,
            )
        return pd.DataFrame(out)

    return _udf
