"""set_sketch_paper_spark — a PySpark-native near-duplicate detection and
clustering engine built around the SetSketch paper's sketch family.

Re-expresses the capabilities of the reference artifact repo
(dynatrace-research/set-sketch-paper, VLDB 2021: "SetSketch: Filling the Gap
between MinHash and HyperLogLog") as an idiomatic Spark pipeline:

- ``sketchlib``   — pure numpy sketch kernels + estimators (no Spark imports)
- ``functions``   — vectorized pandas/Arrow UDFs wrapping sketchlib
- ``operators``   — DataFrame-level operators (shingling, LSH, dedup,
                    clustering, similarity search, text analysis)
- ``sources``     — deterministic synthetic corpus generator + table loaders
- ``plans``       — end-to-end resumable pipelines with checkpoint/lineage
- ``streaming``   — Structured Streaming variants

Design note: this is NOT a port of the reference C++ (see SURVEY.md). The
reference's per-element streaming inserts become per-row vectorized bulk
kernels; its OpenMP fork-join becomes Spark partition parallelism; its
element-wise min/max merges map to algebraic partial+final aggregation.
"""

# installed in every process that imports the package, Python workers included
from .functions import worker_boot as _worker_boot  # noqa: F401

__version__ = "0.1.0"
