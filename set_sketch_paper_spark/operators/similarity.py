"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce``: exact top-k neighbors.  Embeddings are
  quantized to int64 (round(x*1000)) so the dot product is EXACT integer
  arithmetic and the final cosine is a deterministic IEEE expression of
  identical integers — bit-identical across Spark and any SQL oracle
  (no float-summation-order drift).  All JVM-side: zip_with + aggregate.
- ``hyperplane_ann_topk``: the scale path — random-hyperplane (SimHash) LSH
  buckets shrink the candidate set from |corpus| to bucket size, then exact
  cosine re-ranks within buckets.  Probe multiple hash tables for recall.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from ..operators.lsh import pair_sides

_QUANT = 1000


def _quantized(col):
    # cast to double BEFORE scaling so Spark and the SQL oracle evaluate the
    # identical IEEE expression (float32*int would promote differently)
    return F.transform(col, lambda x: F.round(x.cast("double") * _QUANT).cast(LongType()))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast(LongType()),
                       lambda acc, x: acc + x)


def _cos_q(dot_col, norm1_col, norm2_col):
    """The ONE quantized-cosine scoring expression shared by brute-force,
    ANN re-rank, and near-dup paths: cos_q = round(1e6 * dot / sqrt(n1*n2))
    over exact integer dot/norms — identical IEEE expression everywhere, so
    ANN-routed results are bit-comparable to the exact oracle twin."""
    return F.round(
        F.lit(1_000_000) * dot_col / F.sqrt((norm1_col * norm2_col).cast("double"))
    ).cast(LongType())


def cosine_topk_bruteforce(
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors (query set defaults to the corpus).

    Output: (query_id, neighbor_id, rank, cos_q) where cos_q =
    round(1e6 * dot/sqrt(na*nb)) over quantized integer vectors.
    The corpus side is broadcast when small; at scale, swap in
    ``hyperplane_ann_topk``.
    """
    q = (queries or corpus).select(
        F.col(id_col).alias("query_id"), _quantized(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _quantized(F.col(vec_col)).alias("cv")
    )
    qn = q.withColumn("qnorm", _dot(F.col("qv"), F.col("qv")))
    cn = c.withColumn("cnorm", _dot(F.col("cv"), F.col("cv")))
    pairs = qn.crossJoin(cn).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("dot", _dot(F.col("qv"), F.col("cv"))).withColumn(
        "cos_q", _cos_q(F.col("dot"), F.col("qnorm"), F.col("cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_q")
    )


def _hyperplane_codes_udf(n_bits: int, n_tables: int, seed: int):
    """embedding -> array<int> of ALL n_tables bucket codes in one pass
    (one Arrow roundtrip + one matmul instead of n_tables UDF calls).
    Hyperplanes are a deterministic function of (seed, dim); dim is read
    from the first vector of each Arrow batch, so no driver-side .first()
    job is ever needed and every executor derives identical planes."""

    @F.pandas_udf(ArrayType(IntegerType()))
    def _udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        rng = np.random.RandomState(seed % (2**31 - 1))
        planes = rng.standard_normal((mat.shape[1], n_bits * n_tables))
        signs = (mat @ planes) > 0
        weights = (1 << np.arange(n_bits, dtype=np.int32))
        codes = (
            signs.reshape(len(vecs), n_tables, n_bits).astype(np.int32) * weights
        ).sum(axis=2, dtype=np.int32)
        return pd.Series(list(codes))

    return _udf


def _coded(corpus: DataFrame, id_col: str, vec_col: str, n_bits: int,
           n_tables: int, seed: int, bucket_cap: int):
    """Returns (slim, vecs): slim = (_id, table_idx, code) ID-ONLY bucket
    membership rows with hot buckets dropped; vecs = (_id, qv, norm) one row
    per vector.

    Candidate generation self-joins slim (ids only — the pair-dedup shuffle
    never carries the quantized vectors); scoring joins vecs back by id,
    exactly the LSH verify shape (operators/lsh.py::pair_sides).  The
    bucket-size side table has at most n_tables * 2^n_bits rows, so the
    hot-bucket filter is a broadcast join — no extra big-side shuffle.
    """
    from ..operators.signatures import widen_if_narrow

    codes_udf = _hyperplane_codes_udf(n_bits, n_tables, seed)
    coded = (
        widen_if_narrow(corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")))
        .withColumn("_codes", codes_udf(F.col("_v")))
        .withColumn("qv", _quantized(F.col("_v")))
        .withColumn("norm", _dot(F.col("qv"), F.col("qv")))
        .drop("_v")
        # codes UDF + quantization evaluated once for all branches.
        # localCheckpoint, NOT persist: a .persist() here is registered in
        # the SQL CacheManager and never evicted by GC, so repeated ANN
        # queries in a long-lived session would pin storage forever;
        # the ContextCleaner drops a localCheckpoint block once the plan is
        # unreachable AND a driver JVM GC has run — up to
        # spark.cleaner.periodicGC.interval (30 min) later on an idle
        # driver (functions/blocks.py)
        .localCheckpoint(eager=True)
    )
    slim = coded.select(
        "_id", F.posexplode(F.col("_codes")).alias("table_idx", "code")
    )
    sizes = slim.groupBy("table_idx", "code").agg(F.count(F.lit(1)).alias("_bsz"))
    slim_ok = (
        slim.join(F.broadcast(sizes), ["table_idx", "code"])
        .filter(F.col("_bsz") <= bucket_cap)
        .drop("_bsz")
    )
    vecs = coded.select("_id", "qv", "norm")
    return slim_ok, vecs


def _bucket_topk_kernel(k: int, bucket_cap: int):
    """applyInPandas kernel for ONE LSH bucket: BLAS-matmul all pairwise
    integer dots and emit, per member, a provably sufficient superset of its
    bucket-local top-k — (query_id, neighbor_id, dot, qnorm, cnorm) with the
    dot/norms as EXACT int64, so the final cos_q is computed by the same
    Spark expression as ever and is bit-identical.

    Margin proof (why emitting u >= u_(k) - 2.0 loses nothing): u here is
    the unrounded 1e6*dot/sqrt(n1*n2) in float64 (exact-integer inputs, so
    within ~1e-9 of Spark's value) and cos_q = round-half-up(u).  If x is
    excluded, at least k candidates c in this bucket have u(c) > u(x) + 2,
    hence cos_q(c) >= cos_q(x) + 1 (round(y) is within 0.5 of y), i.e. k
    candidates beat x strictly even after rounding — x cannot be in the
    GLOBAL top-k either, because every global candidate co-buckets with the
    query somewhere and this argument applies in that bucket.  Ties at the
    rounded value (broken by neighbor_id) are safe: tied candidates differ
    by < 2 in u and are all emitted.

    Zero-norm rows make u NaN; their pairs are emitted unconditionally so
    the Spark-side expression decides their fate exactly as before.
    """
    import numpy as np
    import pandas as pd

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = {
            "query_id": np.empty(0, np.int64),
            "neighbor_id": np.empty(0, np.int64),
            "dot": np.empty(0, np.int64),
            "qnorm": np.empty(0, np.int64),
            "cnorm": np.empty(0, np.int64),
        }
        m = len(pdf)
        if m < 2 or m > bucket_cap:  # same hot-bucket drop as the join form
            return pd.DataFrame(empty)
        ids = pdf["_id"].to_numpy(np.int64)
        norms = pdf["norm"].to_numpy(np.int64)
        V = np.vstack([np.asarray(v, np.float64) for v in pdf["qv"]])
        zmask = norms == 0
        z = int(zmask.sum())
        out_q, out_n, out_d = [], [], []
        CH = 2048
        for s in range(0, m, CH):
            e = min(m, s + CH)
            rows = e - s
            D = V[s:e] @ V.T  # quantized dots: exact integers < 2^53
            with np.errstate(invalid="ignore", divide="ignore"):
                # same op order as the Spark expression: long*long (wrapping)
                # -> double -> sqrt -> divide
                denom = np.sqrt((norms[s:e, None] * norms[None, :]).astype(np.float64))
                U = (1e6 * D) / denom
            U[np.arange(rows), np.arange(s, e)] = np.nan  # exclude self
            if m - 1 - z > k:
                pos = m - 1 - z - k  # kth-largest finite value (NaNs sort last)
                thr = np.partition(U, pos, axis=1)[:, pos] - 2.0
            else:
                thr = np.full(rows, -np.inf)
            with np.errstate(invalid="ignore"):
                mask = U >= thr[:, None]
            if z:
                mask |= zmask[None, :]  # pairs with zero-norm neighbors
                mask[zmask[s:e], :] = True  # zero-norm queries emit all
                mask[np.arange(rows), np.arange(s, e)] = False  # never self
            qi, nj = np.nonzero(mask)
            out_q.append(qi + s)
            out_n.append(nj)
            out_d.append(D[qi, nj].astype(np.int64))
        qi = np.concatenate(out_q)
        nj = np.concatenate(out_n)
        return pd.DataFrame(
            {
                "query_id": ids[qi],
                "neighbor_id": ids[nj],
                "dot": np.concatenate(out_d),
                "qnorm": norms[qi],
                "cnorm": norms[nj],
            }
        )

    return kern


def hyperplane_ann_topk(
    corpus: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0xA_2137,
    bucket_cap: int = 10_000,
) -> DataFrame:
    """Approximate top-k cosine via multi-table random-hyperplane LSH.

    Candidates = pairs sharing a bucket in ANY of n_tables codes (buckets
    larger than ``bucket_cap`` dropped — the skew guard for degenerate
    hyperplane cells); exact integer-quantized cosine ranks candidates.

    r6 shape (guide §4.2): the old slim-self-join materialized sum(s^2)
    candidate rows per bucket (37M at sf1.0) and scored each with a
    per-row zip_with/aggregate dot — ~48s at sf1.0.  Now ONE shuffle
    groups each bucket's (id, qv, norm) and a BLAS matmul kernel
    (_bucket_topk_kernel) scores the bucket in native code, emitting only
    a per-query margin-superset of the bucket top-k with EXACT integer
    dots/norms; Spark then dedups across tables, evaluates the identical
    cos_q expression on those integers, and takes the global top-k — so
    results are bit-identical while the candidate volume drops from
    sum(s^2) rows to ~k per (member, table).
    Recall vs brute force is tested in tests/test_similarity.py.
    """
    from ..operators.signatures import widen_if_narrow

    codes_udf = _hyperplane_codes_udf(n_bits, n_tables, seed)
    coded = (
        widen_if_narrow(corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")))
        .withColumn("_codes", codes_udf(F.col("_v")))
        .withColumn("qv", _quantized(F.col("_v")))
        .withColumn("norm", _dot(F.col("qv"), F.col("qv")))
        .drop("_v")
    )
    slim = coded.select(
        "_id", "qv", "norm", F.posexplode("_codes").alias("table_idx", "code")
    )
    cand = slim.groupBy("table_idx", "code").applyInPandas(
        _bucket_topk_kernel(k, bucket_cap),
        schema="query_id long, neighbor_id long, dot long, qnorm long, cnorm long",
    )
    # ONE exchange for the whole tail: hash by query_id once — that
    # partitioning satisfies the dedup's ClusteredDistribution([query_id,
    # neighbor_id]) (subset rule) AND the window's, so neither adds its own
    # shuffle (2 exchanges -> 1; warm 2.0s -> 1.7s, cold 7.9s -> 2.6s at
    # 10x-sf0.1 replica scale).  Cross-table duplicate rows carry identical
    # exact-integer payloads, so dropDuplicates' pick is value-invariant.
    scored = (
        cand.repartition("query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_q", _cos_q(F.col("dot"), F.col("qnorm"), F.col("cnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_q")
    )


def _ivf_cells(base: DataFrame, n_cells: int, seed: int):
    """Deterministic IVF coarse quantizer: ``n_cells`` seed vectors chosen
    by hash order (the vectors with the smallest xxhash64(id, seed) — a
    uniform pseudo-random but fully deterministic draw), packed into ONE
    broadcastable row ``(cents: array<struct<cell,cv,cn>>)``.

    No driver-side collect: the centroid list rides a broadcast single-row
    crossJoin, so per-row cell scoring is pure map-side JVM expression work
    (the same pattern as broadcasting a dim table, collapsed to one row).
    A k-means refinement is deliberately omitted: hash-seeded cells keep
    every number an exact integer expression (deterministic across runs and
    engines), and recall is governed by n_probe, which is cheaper to raise
    than Lloyd rounds are to run at corpus scale.
    """
    # orderBy().limit() compiles to TakeOrderedAndProject (per-partition
    # top-n, no global sort shuffle); the row_number window then runs over
    # the n_cells-row result only, never the corpus
    small = (
        base.select(
            F.xxhash64(F.col("_id"), F.lit(seed)).alias("_h"), "_id", "qv", "norm"
        )
        .orderBy("_h", "_id")
        .limit(n_cells)
    )
    w = Window.orderBy("_h", "_id")
    seeds = small.select(
        (F.row_number().over(w) - 1).alias("cell"),
        F.col("qv").alias("cv"),
        F.col("norm").alias("cn"),
    )
    return seeds.agg(
        F.array_sort(
            F.collect_list(F.struct("cell", "cv", "cn"))
        ).alias("cents")
    )


def _ivf_ranked_cells(df: DataFrame, cents_row: DataFrame) -> DataFrame:
    """Attach ``_cells``: this row's cell ids ranked by centroid cosine
    (desc, cell-id asc tie-break) — map-side only, one nested JVM
    expression per row over the broadcast centroid list."""
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (-_cos_q(_dot(F.col("qv"), c["cv"]), F.col("norm"), c["cn"])).alias("negs"),
            c["cell"].alias("cell"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(cents_row))
        .withColumn(
            "_cells",
            F.transform(F.array_sort(scored), lambda s: s["cell"]),
        )
        .drop("cents")
    )


def _cell_topk_kernel(k: int, cell_cap: int):
    """applyInPandas kernel for ONE IVF cell: rows are the cell's MEMBERS
    (is_probe false) plus the PROBE entries of queries probing this cell
    (is_probe true; a vector probing its own cell appears as both).  Emits,
    per probe, a margin superset of its within-cell top-k against the
    members, with exact integer dot/norms — the same proof and zero-norm
    handling as _bucket_topk_kernel (a probe's global top-k candidate
    excluded here would need k strictly-better members in THIS cell, which
    already rules it out globally).  Cells with more than ``cell_cap``
    members emit nothing (the degenerate-cell skew guard, as before)."""
    import numpy as np
    import pandas as pd

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = {
            "query_id": np.empty(0, np.int64),
            "neighbor_id": np.empty(0, np.int64),
            "dot": np.empty(0, np.int64),
            "qnorm": np.empty(0, np.int64),
            "cnorm": np.empty(0, np.int64),
        }
        probe_mask = pdf["is_probe"].to_numpy(bool)
        mem = pdf[~probe_mask]
        prb = pdf[probe_mask]
        m, p = len(mem), len(prb)
        if m == 0 or p == 0 or m > cell_cap:
            return pd.DataFrame(empty)
        mids = mem["_id"].to_numpy(np.int64)
        mnorm = mem["norm"].to_numpy(np.int64)
        MV = np.vstack([np.asarray(v, np.float64) for v in mem["qv"]])
        qids = prb["_id"].to_numpy(np.int64)
        qnorm = prb["norm"].to_numpy(np.int64)
        QV = np.vstack([np.asarray(v, np.float64) for v in prb["qv"]])
        zm = mnorm == 0
        z = int(zm.sum())
        D = QV @ MV.T  # exact integer dots (< 2^53)
        with np.errstate(invalid="ignore", divide="ignore"):
            denom = np.sqrt((qnorm[:, None] * mnorm[None, :]).astype(np.float64))
            U = (1e6 * D) / denom
        selfm = qids[:, None] == mids[None, :]
        U[selfm] = -np.inf  # counted finite (can only widen the superset)
        if m - z > k:
            pos = m - z - k
            thr = np.partition(U, pos, axis=1)[:, pos] - 2.0
        else:
            thr = np.full(p, -np.inf)
        with np.errstate(invalid="ignore"):
            mask = U >= thr[:, None]
        if z:
            mask |= zm[None, :]
        mask[qnorm == 0, :] = True  # zero-norm probes: Spark decides exactly
        mask &= ~selfm
        qi, nj = np.nonzero(mask)
        return pd.DataFrame(
            {
                "query_id": qids[qi],
                "neighbor_id": mids[nj],
                "dot": D[qi, nj].astype(np.int64),
                "qnorm": qnorm[qi],
                "cnorm": mnorm[nj],
            }
        )

    return kern


def ivf_ann_topk(
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0xA_2141,
    cell_cap: int = 100_000,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k cosine via an IVF (inverted-file) coarse quantizer
    — the cell-partitioned ANN scale path next to ``hyperplane_ann_topk``.

    ``queries`` restricts the probe side to a subset of corpus ids (the
    production query-vs-corpus shape: the inverted file over the big corpus
    is probed by a much smaller query set); None = every vector queries.

    Every vector is assigned to its nearest of ``n_cells`` hash-seeded
    centroids (map-side, no shuffle); a query probes its ``n_probe``
    nearest cells and exact integer-quantized cosine re-ranks the members.
    Candidate generation is ONE equi-join on the cell id — the inverted
    file IS the partitioning, so at cluster scale the corpus is stored
    bucketed by cell and probing reads only n_probe/n_cells of the data.
    Size n_cells ~ sqrt(|corpus|) and cap degenerate cells with
    ``cell_cap`` (same skew guard as the LSH band_cap).  Scoring shares
    _cos_q with the exact path, so hits are bit-equal to brute force;
    recall vs brute force is gated in tests/test_similarity.py.
    Output: (query_id, neighbor_id, rank, cos_q).
    """
    from ..operators.signatures import widen_if_narrow

    base = (
        # widen FIRST: the quantize/dot lambdas and the 16-cell ranking
        # below are interpreted (higher-order functions skip codegen), and a
        # small parquet arrives as 1-2 row groups — without this the whole
        # query serializes behind single-task expression evaluation
        # (measured 12s -> ~2s at sf1.0)
        widen_if_narrow(corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")))
        .withColumn("qv", _quantized(F.col("_v")))
        .withColumn("norm", _dot(F.col("qv"), F.col("qv")))
        .drop("_v")
    )
    cents_row = _ivf_cells(base, n_cells, seed)
    # checkpoint RANKED, not base: ranked carries (_id, qv, norm, _cells),
    # so members, probes AND the scoring vecs all read one materialization —
    # previously the interpreted 16-cell ranking re-ran for every branch
    # (members + probes + scoring = 3x at sf1.0).  The ContextCleaner frees
    # the blocks once unreachable and after a driver JVM GC (as for _coded).
    ranked = _ivf_ranked_cells(base, cents_row).localCheckpoint(eager=True)

    # members + probe entries shuffled ONCE into per-cell groups and scored
    # by the BLAS kernel (guide §4.2) — replaces the cell equi-join +
    # per-candidate interpreted dot + full-candidate window of the join
    # form.  No cross-cell dedup is needed: each neighbor belongs to
    # exactly ONE cell and a query's probed cells are distinct, so every
    # (query, neighbor) is emitted at most once.
    members = ranked.select(
        "_id", "qv", "norm",
        F.element_at("_cells", 1).alias("cell"), F.lit(False).alias("is_probe"),
    )
    probe_src = ranked
    if queries is not None:
        qids = queries.select(F.col(id_col).alias("_id"))
        probe_src = ranked.join(qids, "_id", "semi")
    probes = probe_src.select(
        "_id", "qv", "norm",
        F.explode(F.slice("_cells", 1, n_probe)).alias("cell"),
        F.lit(True).alias("is_probe"),
    )
    cand = members.unionByName(probes).groupBy("cell").applyInPandas(
        _cell_topk_kernel(k, cell_cap),
        schema="query_id long, neighbor_id long, dot long, qnorm long, cnorm long",
    )
    scored = cand.withColumn(
        "cos_q", _cos_q(F.col("dot"), F.col("qnorm"), F.col("cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_q")
    )


def cosine_near_dup_pairs_ann(
    corpus: DataFrame,
    threshold_q: int = 990_000,
    n_bits: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0xA_2137,
    bucket_cap: int = 10_000,
) -> DataFrame:
    """Embedding near-duplicate pairs through hyperplane-LSH buckets — the
    PRODUCTION entry at scale (cosine_near_dup_pairs' crossJoin is the
    sf<=0.01 oracle twin).  Candidates are undirected pairs co-bucketed in
    any table; scoring is the identical _cos_q expression, so every emitted
    pair's cos_q is bit-equal to the exact path's — ANN only affects recall
    (multi-table probing; recall vs exact is asserted in tests).
    Output: (id1 < id2, cos_q >= threshold_q)."""
    slim, vecs = _coded(corpus, id_col, vec_col, n_bits, n_tables, seed, bucket_cap)
    cand = (
        slim.alias("a")
        .join(slim.alias("b"), ["table_idx", "code"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    return (
        pair_sides(cand, vecs, "_id", ["qv", "norm"])
        .withColumn("dot", _dot(F.col("qv1"), F.col("qv2")))
        .withColumn("cos_q", _cos_q(F.col("dot"), F.col("norm1"), F.col("norm2")))
        .filter(F.col("cos_q") >= threshold_q)
        .select("id1", "id2", "cos_q")
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold_q: int = 990_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-duplicate pairs: (id1 < id2, cos_q) with
    cos_q = round(1e6 * cosine) >= threshold_q over integer-quantized
    vectors (deterministic, SQL-oracle-exact).  Brute-force O(n^2) — the
    correctness baseline / oracle twin; the production entry at scale is
    cosine_near_dup_pairs_ann (identical _cos_q scoring, LSH candidates)."""
    q = corpus.select(
        F.col(id_col).alias("id1"), _quantized(F.col(vec_col)).alias("qv")
    ).withColumn("qnorm", _dot(F.col("qv"), F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("id2"), _quantized(F.col(vec_col)).alias("cv")
    ).withColumn("cnorm", _dot(F.col("cv"), F.col("cv")))
    pairs = q.crossJoin(c).filter(F.col("id1") < F.col("id2"))
    return (
        pairs.withColumn("dot", _dot(F.col("qv"), F.col("cv")))
        .withColumn("cos_q", _cos_q(F.col("dot"), F.col("qnorm"), F.col("cnorm")))
        .filter(F.col("cos_q") >= threshold_q)
        .select("id1", "id2", "cos_q")
    )


def label_centroids_quantized(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid in quantized-integer space: exact integer sums per
    dimension (order-independent => oracle-exact), plus member count.
    Output: (label, pos, sum_q, n)."""
    exploded = corpus.select(
        F.col(label_col).alias("label"),
        F.posexplode(_quantized(F.col(vec_col))).alias("pos", "xq"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.sum("xq").alias("sum_q"), F.count(F.lit(1)).alias("n")
    )
