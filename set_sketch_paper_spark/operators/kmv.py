"""KMV (k-minimum-values / bottom-k) distinct sketch — the oracle-checkable
member of the sketch family.

Every other sketch here (GHLL, SetSketch, MinHash, HMH) derives its register
state from xxhash64/SplitMix64 streams that only this engine computes, so
their queries can never be value-checked by an external SQL oracle.  KMV is
the classic bottom-k estimator (Bar-Yossef et al. 2002; Beyer et al. 2007,
"On synopses for distinct-value estimation under multiset operations") whose
entire state is *the k smallest hash values of the input set* — a pure
function of the element multiset, independent of partitioning, merge order,
or engine.  Built on md5 (same deliberate choice as operators/sampling.py:
every SQL engine computes the identical digest), the WHOLE sketch — state,
k-th order statistic, cardinality estimate, and the bottom-k union Jaccard
estimate — is reproducible in DuckDB SQL, so these are the repo's first
sketch queries with full rows+schema+value-hash oracle coverage rather than
rows-only checks.

Reference parity: the reference benchmarks cardinality and joint/Jaccard
estimation over mergeable sketches (sketch.hpp GHLL/SetSketch estimators,
minhash b-bit Jaccard); KMV is the same query surface — distinct count per
key, Jaccard per candidate pair — with an estimator whose state SQL can
recompute.  Estimator:  E[D] with a full sketch is (k-1)/U_(k) for U_(k)
the k-th smallest of D i.i.d. uniforms (unbiased, RSE ~ 1/sqrt(k-2)); a
non-full sketch IS the exact distinct set.

Scale shape (the part DuckDB does naively and Spark must not):

  partial:  sketch_agg's per-key partial loop over the input partitions —
            per task, per key, keep the bottom-k of the distinct hashes seen
            so far.  Elements never shuffle; only <=k-element partial states
            do.  Per-task memory is O(keys_in_flight * k) with a flush cap.
  final:    ONE groupBy(keys) merging partials with built-in expressions
            (flatten -> array_distinct -> array_sort -> slice) — JVM-side,
            whole-stage-codegen friendly, no Python in the merge.

Bottom-k states do NOT merge element-wise (unlike GHLL max / MinHash min
registers): merge is multiset-union-then-slice, so KMV binds its own kernel
and combine to that loop.

Hash: the top 60 bits of md5 as a non-negative int64 —
  Spark:  conv(substring(md5(CAST(x AS STRING)), 1, 15), 16, 10) :: long
  DuckDB: ('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15)) :: BIGINT
15 hex digits = 60 bits keeps the value inside signed-int64 range in both
engines; collision probability over n distinct elements is ~n^2/2^61.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .sketch_agg import _partial_mapper

_HASH_BITS = 60
_HASH_SPACE = float(2**_HASH_BITS)
# quantization of estimates: est_q = floor(1e6 * estimate)
_EST_SCALE = 1_000_000


def kmv_hash_col(col) -> Column:
    """60-bit md5 hash of the string-cast column — bit-identical to
    :func:`kmv_hash_sql` in DuckDB (and any engine with md5 + hex parse)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def kmv_hash_sql(expr: str) -> str:
    """DuckDB fragment computing the identical 60-bit hash of ``expr``."""
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15))::BIGINT)"


def _est_num(k: int) -> float:
    """(k-1) * 2^60 * 1e6 as an EXACT double: (k-1)*1e6 has << 53 mantissa
    bits for any practical k, so the product is exactly representable and
    both engines parse the same literal to the same bits."""
    return float((k - 1) * 2**_HASH_BITS * _EST_SCALE)


def kmv_from_array(arr_col, k: int) -> Column:
    """Map-side KMV over an array<string> column (e.g. a per-document gram
    array): bottom-k distinct 60-bit hashes, sorted ascending.  Pure
    expression — zero shuffle, zero Python.

    NULL array elements are dropped before hashing (md5(NULL) is NULL in
    Spark but list_distinct REMOVES NULLs in DuckDB): 'NULL is not a set
    element' is the engine-independent convention kmv_distinct already
    applies, and filtering here keeps the two twins bit-identical on
    NULL-containing inputs (ADVICE r5)."""
    hashed = F.transform(
        F.filter(arr_col, lambda g: g.isNotNull()),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    return F.slice(F.array_sort(F.array_distinct(hashed)), 1, k)


def kmv_from_array_sql(expr: str, k: int) -> str:
    """DuckDB twin of :func:`kmv_from_array` over a list-of-VARCHAR expr."""
    return (
        f"list_slice(list_sort(list_distinct(list_transform({expr}, "
        f"g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))), 1, {k})"
    )


def kmv_merge_col(ks_list_col, k: int) -> Column:
    """Merge a collected list of bottom-k arrays into the bottom-k of the
    union — multiset union then slice (NOT element-wise; see module doc)."""
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(ks_list_col))), 1, k
    )


def with_kmv_estimate(df: DataFrame, k: int, ks_col: str = "ks") -> DataFrame:
    """Append (n_sk, kth_v, est_q) derived from a bottom-k array column.

    est_q = floor(1e6 * estimate); a non-full sketch holds the whole distinct
    set, so the estimate is exact there.  The full-sketch branch divides two
    exactly-representable doubles — IEEE-identical in any engine evaluating
    the same literal (see oracle twin in __spark_entry__.oracle_sql)."""
    n_sk = F.size(F.col(ks_col))
    # F.get is 0-based and NULL-on-out-of-bounds (no ANSI throw on an
    # empty array, unlike element_at with index 0)
    kth = F.get(F.col(ks_col), n_sk - 1)
    est_q = F.when(n_sk < k, (n_sk * F.lit(_EST_SCALE)).cast("long")).otherwise(
        F.floor(F.lit(_est_num(k)) / kth.cast("double")).cast("long")
    )
    return (
        df.withColumn("n_sk", n_sk.cast("long"))
        .withColumn("kth_v", F.when(n_sk > 0, kth))
        .withColumn("est_q", F.when(n_sk > 0, est_q).otherwise(F.lit(0).cast("long")))
    )


def kmv_estimate_sql(k: int, ks_expr: str = "ks") -> str:
    """DuckDB SELECT fragment emitting the identical (n_sk, kth_v, est_q)."""
    n = f"len({ks_expr})"
    kth = f"({ks_expr})[{n}]"
    num = repr(_est_num(k))
    return (
        f"CAST({n} AS BIGINT) AS n_sk, "
        f"CASE WHEN {n} > 0 THEN {kth} END AS kth_v, "
        f"CASE WHEN {n} = 0 THEN 0 "
        f"     WHEN {n} < {k} THEN CAST({n} AS BIGINT) * {_EST_SCALE} "
        f"     ELSE CAST(floor({num} / CAST({kth} AS DOUBLE)) AS BIGINT) "
        f"END AS est_q"
    )


def kmv_jaccard_cols(ks1, ks2, k: int) -> tuple[Column, Column, Column]:
    """(matches, union_k, jacc_est_q) from two bottom-k arrays: the bottom-k
    of the union is a KMV sketch of A ∪ B, and the fraction of its members
    present in BOTH input sketches estimates Jaccard (Beyer et al. §5).
    jacc_est_q = round-half-up(1e6 * matches/union_k) in exact int math —
    the same floor((2e6 i + u)/(2u)) idiom as ngram_jaccard_pairs."""
    ks1 = ks1 if isinstance(ks1, Column) else F.col(ks1)
    ks2 = ks2 if isinstance(ks2, Column) else F.col(ks2)
    u = F.slice(F.array_sort(F.array_union(ks1, ks2)), 1, k)
    matches = F.size(F.array_intersect(F.array_intersect(u, ks1), ks2))
    union_k = F.size(u)
    jacc_q = F.floor(
        (F.lit(2 * _EST_SCALE) * matches + union_k) / (F.lit(2) * union_k)
    ).cast("long")
    return matches.cast("long"), union_k.cast("long"), jacc_q


def kmv_jaccard_sql(ks1: str, ks2: str, k: int) -> str:
    """DuckDB SELECT fragment: (matches, union_k, jacc_est_q) twins."""
    u = f"list_slice(list_sort(list_distinct({ks1} || {ks2})), 1, {k})"
    m = f"len(list_intersect(list_intersect({u}, {ks1}), {ks2}))"
    uk = f"len({u})"
    return (
        f"CAST({m} AS BIGINT) AS matches, "
        f"CAST({uk} AS BIGINT) AS union_k, "
        f"CAST(floor(({2 * _EST_SCALE} * {m} + {uk}) / (2 * {uk})) AS BIGINT)"
        f" AS jacc_est_q"
    )


def kmv_setops_cols(ks1, ks2, k: int) -> tuple[Column, Column, Column]:
    """(union_est_q, inter_est_q, anotb_est_q) — distinct-count estimates of
    A ∪ B, A ∩ B, and A \\ B from two bottom-k sketches, theta-sketch style
    (Dasgupta et al., "Theta sketch framework"; public DataSketches design):

    the bottom-k of A_k ∪ B_k IS the KMV sketch of A ∪ B, and with
    θ = its k-th value, every hash below θ has decidable membership in both
    A and B (θ <= each input's own k-th value, below which the input sketch
    is a COMPLETE record of its set).  So over the k-1 union values below θ:
    |S| est = count_S * 2^60 / θ for any S expressible from A/B membership.
    A non-full union sketch implies both inputs were non-full, i.e. the
    sketches are the exact sets — counts are exact there.

    All quantized floor(1e6 * est) with exactly-representable constants:
    bit-identical in any engine (DuckDB twin: kmv_setops_sql)."""
    ks1 = ks1 if isinstance(ks1, Column) else F.col(ks1)
    ks2 = ks2 if isinstance(ks2, Column) else F.col(ks2)
    u = F.slice(F.array_sort(F.array_union(ks1, ks2)), 1, k)
    nu = F.size(u)
    theta = F.get(u, nu - 1)
    below = F.slice(u, 1, k - 1)
    c = float(2**_HASH_BITS * _EST_SCALE)  # 2^66 * 5^6 * ... : exact double

    def est_full(cnt: Column) -> Column:
        return F.floor(
            cnt.cast("double") * F.lit(c) / theta.cast("double")
        ).cast("long")

    full = nu >= k
    inter_of = lambda arr: F.size(F.array_intersect(F.array_intersect(arr, ks1), ks2))
    anotb_of = lambda arr: F.size(F.array_except(arr, ks2))
    union_q = F.when(full, est_full(F.lit(k - 1))).otherwise(
        (nu * F.lit(_EST_SCALE)).cast("long")
    )
    inter_q = F.when(full, est_full(inter_of(below))).otherwise(
        (inter_of(u) * F.lit(_EST_SCALE)).cast("long")
    )
    anotb_q = F.when(full, est_full(anotb_of(below))).otherwise(
        (anotb_of(u) * F.lit(_EST_SCALE)).cast("long")
    )
    return union_q, inter_q, anotb_q


def kmv_setops_sql(ks1: str, ks2: str, k: int) -> str:
    """DuckDB SELECT fragment: (union_est_q, inter_est_q, anotb_est_q)
    twins of kmv_setops_cols (identical float expression shapes)."""
    u = f"list_slice(list_sort(list_distinct({ks1} || {ks2})), 1, {k})"
    nu = f"len({u})"
    theta = f"({u})[{k}]"
    below = f"list_slice({u}, 1, {k - 1})"
    c = repr(float(2**_HASH_BITS * _EST_SCALE))

    def est_full(cnt: str) -> str:
        return (
            f"CAST(floor((CAST({cnt} AS DOUBLE) * {c})"
            f" / CAST({theta} AS DOUBLE)) AS BIGINT)"
        )

    def inter_of(arr: str) -> str:
        return f"len(list_intersect(list_intersect({arr}, {ks1}), {ks2}))"

    def anotb_of(arr: str) -> str:
        return f"len(list_filter({arr}, x -> NOT list_contains({ks2}, x)))"

    return (
        f"CASE WHEN {nu} >= {k} THEN {est_full(str(k - 1))} "
        f"ELSE CAST({nu} AS BIGINT) * {_EST_SCALE} END AS union_est_q, "
        f"CASE WHEN {nu} >= {k} THEN {est_full(inter_of(below))} "
        f"ELSE CAST({inter_of(u)} AS BIGINT) * {_EST_SCALE} END AS inter_est_q, "
        f"CASE WHEN {nu} >= {k} THEN {est_full(anotb_of(below))} "
        f"ELSE CAST({anotb_of(u)} AS BIGINT) * {_EST_SCALE} END AS anotb_est_q"
    )


def _bottom_k_family(k: int):
    """(kernel, combine, encode) binding bottom-k to sketch_agg's per-key
    partial loop.  The kernel lexsorts a batch by (group, value), drops
    repeats within a group and keeps each group's first k; two states
    merge by union-then-slice."""

    def kernel(values, offsets):
        n = len(offsets) - 1
        grp = np.repeat(np.arange(n), np.diff(offsets))
        v = values[np.lexsort((values, grp))]  # grp is already sorted
        first = np.ones(len(v), dtype=bool)
        first[1:] = (v[1:] != v[:-1]) | (grp[1:] != grp[:-1])
        v, g = v[first], grp[first]
        top = np.arange(len(g)) - np.searchsorted(g, g) < k
        v, g = v[top], g[top]
        ends = np.searchsorted(g, np.arange(n + 1)).tolist()
        return [v[a:b] for a, b in zip(ends[:-1], ends[1:])]

    def combine(a, b):
        return np.unique(np.concatenate([a, b]))[:k]

    return kernel, combine, np.ndarray.tolist


def kmv_distinct(df: DataFrame, keys, value_col: str, k: int = 256) -> DataFrame:
    """Per-key KMV sketch of distinct ``value_col`` values: (keys..., ks).

    Stage 1 never shuffles elements — each task emits <=k-element partial
    states per key it holds; stage 2 is ONE groupBy(keys) whose merge is
    pure built-in array algebra (kmv_merge_col).  Feed the result to
    with_kmv_estimate for (n_sk, kth_v, est_q)."""
    from .signatures import widen_if_narrow

    keys = [keys] if isinstance(keys, str) else list(keys)
    clash = sorted({"__v", "__h"} & set(keys))
    if clash:
        raise ValueError(
            f"kmv_distinct key column(s) {clash} clash with its internal "
            "value/hash columns; rename them first"
        )
    # Project to (keys, value) FIRST, then widen, then hash: widening the
    # RAW frame was tried and reverted in r6 (the repartition carried every
    # event column — 2.6-3.0s unwidened vs 3.5-8.0s widened at sf1.0), but
    # shuffling just the two join-relevant columns is ~25 MB at sf1.0 and
    # unserializes the md5 pass from the 1-row-group scan: same-session A/B
    # 3.4-5.8s -> 2.4-3.9s under load, parity on a quiet box, rows
    # identical.  At cluster scale wide scans make the guard a no-op
    # (guide §2.3: project before the exchange).
    slim = widen_if_narrow(df.select(*keys, F.col(value_col).alias("__v")))
    # NULL values are not elements of the distinct set (and would poison the
    # int64 partial arrays); the SQL oracle filters identically.
    hashed = slim.select(*keys, kmv_hash_col("__v").alias("__h")).filter(
        F.col("__h").isNotNull()
    )
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in hashed.schema.fields
        if f.name in keys
    ) + ", ks array<bigint>"
    partials = hashed.mapInPandas(
        _partial_mapper(keys, "__h", "ks", _bottom_k_family(k)), schema=schema
    )
    return partials.groupBy(*keys).agg(
        kmv_merge_col(F.collect_list("ks"), k).alias("ks")
    )
