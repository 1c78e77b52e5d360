"""LSH banding and candidate-pair generation, plus the pair layer every
bucketed pair operator shares: ``bucket_pairs`` (capped i<j expansion per
bucket) and ``pair_sides`` (per-id columns joined onto both pair sides).

Scale design (SURVEY.md §4, north rule):
- band explosion is a narrow op (posexplode of the per-row band array);
- bucket grouping is ONE shuffle (groupBy the position-salted band_hash with
  collect_list), after which pair expansion is narrow;
- the band-size cap bounds the quadratic expansion of boilerplate
  mega-buckets (hot-band skew): a bucket of size s yields s(s-1)/2 pairs, so
  an uncapped 1M-member license-header bucket would emit 5e11 pairs.
  Oversized buckets are dropped and REPORTED via the skipped-buckets output
  (standard LSH practice; callers can route them to the exact-substring /
  boilerplate path instead);
- canonical pair dedup (least/greatest + dropDuplicates) shuffles on the
  pair key — unavoidable and key-balanced;
- AQE skew-join handling stays on for the verification join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import LSHConfig


def explode_bands(df: DataFrame, id_col: str = "file_id", bands_col: str = "bands") -> DataFrame:
    """(id, bands array) -> (band_hash, id), narrow.

    The bucket key is band_hash ALONE: band_hashes() seeds each band
    position with its own salt (sketchlib/minhash.py::band_hashes), so the
    64-bit value already encodes the band identity — carrying band_idx
    through the shuffle would add key bytes for nothing.  A cross-band
    64-bit collision merges two buckets (~|rows|^2/2^64 probability) and
    only costs a spurious candidate pair that verification rejects; the
    numpy oracle buckets by the same value, so assignments stay bit-equal.

    explode_outer, NOT explode: the plain generator injects an implicit
    `size(bands) > 0 AND isnotnull(bands)` Filter that references the UDF
    output before the projection, which defeats Python-UDF dedup and makes
    Spark evaluate the signature UDF TWICE per row (seen in the formatted
    plan as two ArrowEvalPython nodes).  Signatures always emit a full band
    array, so the outer variant only adds a null-filter after the explode.
    """
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(F.col(bands_col)).alias("band_hash"),
    ).filter(F.col("band_hash").isNotNull())


def bucket_pairs(members: DataFrame, keys, cap, *, payload=None, need=None):
    """(keys..., _id[, payload][, need]) member rows -> (pairs, skipped).

    The capped i<j bucket expansion the pair operators share (LSH bands,
    fingerprint and gram keys, SimHash blocks): ONE groupBy(keys) collects
    each bucket's members, and buckets of 2..``cap`` members (``cap=None``:
    uncapped) expand to their s(s-1)/2 pairs in one codegen'd expression —
    a double explode would instead materialize s rows each carrying the
    full array (s^2 array copies per bucket, measured 4x slower).

    ``pairs`` is (id1 < id2[, p1, p2]) once per SHARED bucket — no dedup,
    so a pair in k buckets appears k times (shared_key_pair_counts counts
    them).  ``payload`` carries one member column along, oriented with the
    ids (p1 belongs to id1).  ``need`` names a boolean member column: buckets
    with no flagged member are skipped before expansion and pairs with no
    flagged side are filtered inside the expression, never materialized.
    ``skipped`` is (keys..., bucket_size) for the buckets over the cap — the
    skew report (a boilerplate bucket of size s would emit s^2/2 pairs) —
    or None when uncapped.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    clash = sorted({"_id", "ids", "bucket_size"} & set(keys))
    if clash:
        raise ValueError(
            f"bucket_pairs key column(s) {clash} clash with its internal "
            "member/bucket columns; rename them first"
        )
    extra = [F.col(c).alias(f) for f, c in (("p", payload), ("nw", need)) if c is not None]
    if extra:
        elem, x, y = F.struct(F.col("_id").alias("id"), *extra), "x.id", "y.id"
    else:
        elem, x, y = F.col("_id"), "x", "y"
    sized = (
        members.groupBy(*keys)
        .agg(F.collect_list(elem).alias("ids"))
        .withColumn("bucket_size", F.size("ids"))
    )
    ok = F.col("bucket_size") >= 2
    if cap is not None:
        ok = ok & (F.col("bucket_size") <= cap)
    others = "slice(ids, i + 2, size(ids))"
    out = f"least({x}, {y}) as id1, greatest({x}, {y}) as id2"
    cols = ["p.id1", "p.id2"]
    if need is not None:
        ok = ok & F.exists("ids", lambda m: m["nw"])
        others = f"filter({others}, y -> x.nw or y.nw)"
    if payload is not None:
        out += f", if({x} < {y}, x.p, y.p) as p1, if({x} < {y}, y.p, x.p) as p2"
        cols += ["p.p1", "p.p2"]
    expr = f"flatten(transform(ids, (x, i) -> transform({others}, y -> struct({out}))))"
    pairs = (
        sized.filter(ok)
        .select(F.explode(F.expr(expr)).alias("p"))
        .select(*cols)
        .filter(F.col("id1") != F.col("id2"))
    )
    if cap is None:
        return pairs, None
    return pairs, sized.filter(F.col("bucket_size") > cap).select(*keys, "bucket_size")


def pair_sides(pairs: DataFrame, table: DataFrame, id_col: str, cols) -> DataFrame:
    """Attach per-id ``cols`` of ``table`` to both sides of (id1, id2) pairs
    as <col>1 / <col>2: one id equi-join per side, the table projected to
    (id, cols) first so the shuffle never carries anything else.  At cluster
    scale both sides are pre-partitioned by id — the co-located join of the
    design (AQE skew-join handling stays on)."""
    taken = set(pairs.columns)
    for c in cols:
        for side in ("1", "2"):
            if c + side in taken:
                raise ValueError(
                    f"pair_sides column {c!r} would be attached as {c + side!r}, "
                    "which the pairs frame already has; rename it first"
                )
    for side in ("1", "2"):
        pairs = pairs.join(
            table.select(
                F.col(id_col).alias("id" + side), *[F.col(c).alias(c + side) for c in cols]
            ),
            "id" + side,
        )
    return pairs


def candidate_pairs(
    df: DataFrame,
    lsh: LSHConfig,
    id_col: str = "file_id",
    bands_col: str = "bands",
    with_skipped: bool = False,
    hot_mode: str = "drop",
):
    """All distinct id pairs sharing >= 1 LSH bucket, bucket size capped.

    Hot buckets (size > band_cap — boilerplate bands) are handled per
    ``hot_mode``:
    - 'drop' (default): excluded and reported via ``with_skipped`` — the
      deterministic-recall mode the numpy oracle mirrors;
    - 'salt': SPLIT into ceil(size/cap) hash-salted sub-buckets and paired
      within each sub-bucket (the north-star "salt hot shingle bands to
      defuse skew" mode): cost stays O(size * cap) instead of O(size^2),
      trading uniform ~cap/size within-band recall on boilerplate bands —
      true near-dups still collide in their other, non-hot bands.

    Returns pairs DataFrame (id1 < id2), and optionally the skipped/salted
    oversized-bucket summary (band_hash, bucket_size).
    """
    exploded = explode_bands(df, id_col, bands_col)
    pairs, hot = bucket_pairs(exploded, "band_hash", lsh.band_cap)
    if hot_mode == "salt":
        # re-bucket ONLY the hot-band membership rows (rare by definition)
        # with a deterministic per-id salt; sub-buckets are ~cap-sized w.h.p.
        n_sub = F.ceil(F.col("bucket_size") / F.lit(lsh.band_cap)).cast("long")
        salted = exploded.join(hot.select("band_hash", n_sub.alias("_nsub")), "band_hash")
        salted = salted.withColumn("_salt", F.pmod(F.xxhash64("_id"), F.col("_nsub")))
        sub_pairs, _ = bucket_pairs(salted, ["band_hash", "_salt"], None)
        pairs = pairs.union(sub_pairs)
    elif hot_mode != "drop":
        raise ValueError(f"unknown hot_mode {hot_mode!r} (expected 'drop' or 'salt')")
    pairs = pairs.dropDuplicates(["id1", "id2"])
    if with_skipped:
        return pairs, hot
    return pairs


def verified_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    estimator_udf,
    threshold: float,
    id_col: str = "file_id",
    sig_col: str = "sig",
    n_col: str = "n_shingles",
) -> DataFrame:
    """Join candidate pairs back to signatures and keep pairs whose estimated
    Jaccard >= threshold.

    The exact shingle count (``n_col``, carried in the signature struct since
    tokenization) rides along so the joint estimator runs with KNOWN set
    cardinalities (sketch.hpp:1452) — mandatory under OPH, where the dense
    harmonic cardinality estimator does not apply.

    The two joins shuffle on the id — at cluster scale both sides are
    pre-partitioned by id, so this is the co-located join of the design.  The
    signature table is projected to (id, sig, n) before joining (column
    pruning: never carry content or bands here).
    """
    sig = signatures.select(id_col, F.col(sig_col).alias("sig"), F.col(n_col).alias("n"))
    joined = pair_sides(pairs, sig, id_col, ["sig", "n"])
    est = joined.withColumn(
        "est", estimator_udf(F.col("sig1"), F.col("sig2"), F.col("n1"), F.col("n2"))
    )
    return (
        est.select(
            "id1",
            "id2",
            F.col("est.est_jaccard").alias("est_jaccard"),
            F.col("est.est_intersection").alias("est_intersection"),
            F.col("est.est_union").alias("est_union"),
            F.col("est.est_cosine").alias("est_cosine"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
