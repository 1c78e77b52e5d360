"""Vectorized 64-bit hashing / RNG primitives (numpy uint64).

Plays the role of the reference's wyhash/wyrand bitstream toolkit
(/root/reference/c++/bitstream_random.hpp:29-232).  We deliberately define our
OWN deterministic spec (SplitMix64-based) rather than replicating wyrand
bit-for-bit: per SURVEY.md §2.8 bit-exactness is only required between our
Spark pipeline and our own single-node oracle, both of which use these
kernels.  SplitMix64 is public domain (Steele et al., "Fast splittable
pseudorandom number generators") and passes the same statistical acceptance
tests the reference applies to wyrand (python/random_test.py:31-116) — see
tests/test_rng_stats.py.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64

_GOLDEN = U64(0x9E3779B97F4A7C15)
_MIX1 = U64(0xBF58476D1CE4E5B9)
_MIX2 = U64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer: bijective mixer on uint64.

    In-place mixing on one fresh buffer — this is the innermost kernel of
    every sketch (m x n evaluations per signature batch), so allocation
    traffic matters more than readability here.
    """
    z = np.add(np.asarray(x, dtype=U64), _GOLDEN, dtype=U64)
    z ^= z >> U64(30)
    z *= _MIX1
    z ^= z >> U64(27)
    z *= _MIX2
    z ^= z >> U64(31)
    return z


def derive_keys(seed: int, n: int) -> np.ndarray:
    """n deterministic 64-bit keys from a seed (one per register/band).

    Equivalent role to the reference drawing fresh words from a seeded
    WyrandBitStream (bitstream_random.hpp:194-197).
    """
    return splitmix64(U64(seed & 0xFFFFFFFFFFFFFFFF) + np.arange(1, n + 1, dtype=U64) * _GOLDEN)


def u64_to_unit(x: np.ndarray) -> np.ndarray:
    """53-bit-mantissa uniform double in [0, 1).

    Same construction as the reference's getUniformDouble
    (bitstream_random.hpp:43-45): top 53 bits scaled by 2^-53.
    """
    return (np.asarray(x, dtype=U64) >> U64(11)).astype(np.float64) * 2.0**-53


def lemire_bounded(x: np.ndarray, bound: int) -> np.ndarray:
    """Map uniform uint64 to [0, bound) via Lemire multiply-shift.

    The reference uses 32-bit Lemire with rejection
    (bitstream_random.hpp:169-182); we use the top 32 bits without the
    rejection step — the bias is < bound/2^32, irrelevant for bound <= 2^20,
    and our oracle uses the identical function.
    """
    hi32 = np.asarray(x, dtype=U64) >> U64(32)
    return ((hi32 * U64(bound)) >> U64(32)).astype(np.int64)


def u64_to_i64(x: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 bits as int64 (Spark LongType boundary)."""
    return np.asarray(x, dtype=U64).view(np.int64)


def u64_from_i64(x: np.ndarray) -> np.ndarray:
    """Reinterpret int64 bits as uint64 (inverse boundary crossing)."""
    return np.asarray(x, dtype=np.int64).view(U64)


def exponential_from_u64(x: np.ndarray) -> np.ndarray:
    """Exp(1) sample via inverse CDF from a uint64 word.

    The reference offers both ziggurat and inverse-CDF sampling
    (bitstream_random.hpp:52-54, exponential_distribution.hpp:51-230);
    statistically identical, and inverse CDF vectorizes.
    """
    u = u64_to_unit(x)
    return -np.log1p(-u)
