"""Immutable engine configuration objects.

Mirrors the reference's config classes (equality-checked before merge,
/root/reference/c++/sketch.hpp:903-960, 1087-1156, 1546-1576) as frozen
dataclasses.  A config hash travels with every checkpoint so resumed runs can
refuse to mix incompatible sketch states, like the reference's
``assert(config == other.getConfig())`` (sketch.hpp:1021).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


def _stable_hash(obj) -> str:
    payload = json.dumps(obj, sort_keys=True, default=str).encode()
    return hashlib.sha256(payload).hexdigest()[:16]


@dataclass(frozen=True)
class MinHashConfig:
    """MinHash with m 64-bit registers (cf. sketch.hpp:1546-1576).

    ``algo``: 'dense' = classic m-hashes-per-element MinHash (paper-parity
    path, O(n*m)); 'oph' = one-permutation hashing with rotation
    densification (scale path, O(n+m) — see minhash_signatures_batch_oph).
    """

    num_registers: int = 128
    seed: int = 0x5E75_FE7C
    algo: str = "dense"

    # bumped whenever the register-hash spec changes (v2: linear A + key*B
    # family) so checkpoints/stores from older kernels can't be mixed in
    KERNEL_SPEC = "mh-linear-v2"

    def config_hash(self) -> str:
        return _stable_hash({"kind": "minhash", "kernel": self.KERNEL_SPEC, **asdict(self)})


@dataclass(frozen=True)
class GHLLConfig:
    """GeneralizedHyperLogLog (cf. sketch.hpp:903-960).

    ``a`` is fixed to 1/num_registers as in the reference ctor
    (sketch.hpp:924); register width is chosen from q.
    """

    num_registers: int = 4096
    base: float = 2.0
    q: int = 62
    seed: int = 0x6841_1000

    @property
    def a(self) -> float:
        return 1.0 / self.num_registers

    @property
    def dtype(self) -> str:
        # register values live in [0, q+1]
        return "uint8" if self.q + 1 <= 255 else "uint16"

    KERNEL_SPEC = "ghll-onehash-v2"

    def config_hash(self) -> str:
        return _stable_hash({"kind": "ghll", "kernel": self.KERNEL_SPEC, **asdict(self)})


@dataclass(frozen=True)
class SetSketchConfig:
    """SetSketch1 (cf. sketch.hpp:1087-1156). a=20 is the paper's default
    used throughout the benchmarks (cardinality_test.cpp:110-114)."""

    num_registers: int = 4096
    base: float = 2.0
    a: float = 20.0
    q: int = 62
    seed: int = 0x5E5C_0001

    @property
    def dtype(self) -> str:
        return "uint8" if self.q + 1 <= 255 else "uint16"

    def config_hash(self) -> str:
        return _stable_hash({"kind": "setsketch1", **asdict(self)})


@dataclass(frozen=True)
class HyperMinHashConfig:
    """HyperMinHash (cf. sketch.hpp:1873-1936): m = 2^bucketbits registers,
    each packing an HLL level (bucketsize bits of range) with a uniform
    subbucket of subbucketsize bits."""

    bucketbits: int = 10
    bucketsize: int = 6
    subbucketsize: int = 10
    seed: int = 0x4D48_0001

    @property
    def num_registers(self) -> int:
        return 1 << self.bucketbits

    @property
    def dtype(self) -> str:
        return "uint32"

    def config_hash(self) -> str:
        return _stable_hash({"kind": "hyperminhash", **asdict(self)})


@dataclass(frozen=True)
class ShingleConfig:
    """Tokenization + k-shingling of document/file content."""

    k: int = 3
    token_pattern: str = r"\S+"  # "code" pipelines may use r"\w+|[^\w\s]"
    lowercase: bool = False
    seed: int = 0x51_1161E

    def config_hash(self) -> str:
        return _stable_hash({"kind": "shingle", **asdict(self)})


@dataclass(frozen=True)
class LSHConfig:
    """Banding of MinHash signatures into LSH buckets.

    num_bands * rows_per_band must equal the signature length.
    ``band_cap`` bounds the size of any single (band, hash) bucket before
    pair expansion — the skew guard for boilerplate mega-buckets.
    """

    num_bands: int = 16
    rows_per_band: int = 8
    band_cap: int = 2000
    seed: int = 0x15_4B4D

    def config_hash(self) -> str:
        return _stable_hash({"kind": "lsh", **asdict(self)})


@dataclass(frozen=True)
class PipelineConfig:
    """Full near-duplicate pipeline configuration."""

    shingle: ShingleConfig = field(default_factory=ShingleConfig)
    minhash: MinHashConfig = field(default_factory=MinHashConfig)
    lsh: LSHConfig = field(default_factory=LSHConfig)
    jaccard_threshold: float = 0.7
    checkpoint_dir: str | None = None

    def __post_init__(self):
        if self.lsh.num_bands * self.lsh.rows_per_band != self.minhash.num_registers:
            raise ValueError(
                f"LSH bands ({self.lsh.num_bands}x{self.lsh.rows_per_band}) "
                f"must tile the signature (m={self.minhash.num_registers})"
            )

    def config_hash(self) -> str:
        return _stable_hash(
            {
                "shingle": self.shingle.config_hash(),
                "minhash": self.minhash.config_hash(),
                "lsh": self.lsh.config_hash(),
                "threshold": self.jaccard_threshold,
            }
        )
