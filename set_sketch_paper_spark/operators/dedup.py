"""Deduplication operators: exact, MinHash-LSH near-dup, SimHash,
n-gram Jaccard, winnowing fingerprints, embedding near-dup.

Exact dedup is the short-circuit in front of the sketch pipeline: at corpus
scale a large fraction of files are byte-identical (FIXTURES.md plants 15%),
and sketching them is pure waste — group by sha256 first, push only the
representatives through LSH, and re-attach members afterwards
(SURVEY.md §7.1 step 3).

Every bucketed self-join in this module (LSH bands, fingerprints, simhash
blocks, LCS candidate grams) expands its pairs through ``lsh.bucket_pairs``
— the capped i<j bucket expansion — because an uncapped equi-self-join on a
content-derived key is quadratic in the hottest key's frequency, which at
100 TB is a stop-gram in ~every document.  (ngram_jaccard_pairs' small
prefix buckets use their own, measured flat expansion.)
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import LongType

from ..config import PipelineConfig, ShingleConfig
from ..functions.udfs import make_minhash_pair_estimator_udf
from ..operators import lsh as lsh_ops
from ..operators.signatures import with_content_sha, with_minhash_signature
from ..streaming.stream_dedup import incremental_candidates


def exact_dedup_against_snapshot(
    new_df: DataFrame,
    snapshot_df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Incremental EXACT dedup: a new ingest batch against a prior corpus
    snapshot.  Returns one representative row (min id) per NEW content group
    whose sha256 matches nothing in the snapshot: (id_col, content_sha).

    Shape: the snapshot side reduces to DISTINCT content_sha (map-side
    combinable, single pruned column off the scan — and when the snapshot is
    stored bucketed by content_sha, no shuffle
    at all); the new side groups by sha (one shuffle sized by the BATCH, not
    the corpus); survival is one left_anti hash join on the sha.  Per-ingest
    cost is O(|batch|) + a snapshot column scan, never a corpus re-shuffle —
    the batch analog of streaming/stream_dedup.py's store anti-join.
    """
    old = (
        with_content_sha(snapshot_df, content_col)
        .select("content_sha")
        .distinct()
    )
    new_rep = (
        with_content_sha(new_df, content_col)
        .groupBy("content_sha")
        .agg(F.min(id_col).alias(id_col))
    )
    return new_rep.join(old, "content_sha", "left_anti").select(id_col, "content_sha")


def near_dup_against_snapshot(
    new_df: DataFrame,
    snapshot_df: DataFrame,
    pcfg: PipelineConfig,
    id_col: str = "doc_id",
    content_col: str = "content",
    estimator: str = "original",
) -> DataFrame:
    """Incremental NEAR-dup: pairs involving the new batch only (new-vs-
    snapshot plus new-vs-new), never snapshot-vs-snapshot.

    Both sides are MinHash-signed with the same config, and candidates come
    from streaming/stream_dedup.py::incremental_candidates, the one "pairs
    that touch a new id" path the foreachBatch store shares: band_cap
    applies to the COMBINED bucket size, as in ``minhash_near_dup_pairs``'s
    drop mode, so the emitted pair set is EXACTLY the full-corpus pair set
    restricted to pairs involving >= 1 new id (asserted in
    test_cross_consistency.py).  Candidates are verified with the estimator
    at pcfg.jaccard_threshold.  Ids must be disjoint across the two frames
    (they identify the side).
    Output: (id1 < id2, est_jaccard, ...) as in minhash_near_dup_pairs.
    """
    def signed(df):
        # one signature materialization per side: each signed frame is read
        # twice (band explode + the verification join), and without the
        # checkpoint the plan carries the signature UDF once per read
        return (
            with_minhash_signature(df.select(id_col, content_col), pcfg, content_col)
            .select(id_col, "sig", "bands", "n_shingles")
            .localCheckpoint(eager=True)
        )

    # the two checkpoint jobs run concurrently: one after the other, each
    # side's narrow scan + widen shuffle leaves cores idle (incremental_near_dup
    # at sf0.1 on 4 cores: median 1.53 s sequential vs 1.34 s concurrent).
    # The caller's job group, local properties and tags carry over to the
    # pool threads.
    in_thread = inheritable_thread_target(new_df.sparkSession)(signed)
    with ThreadPoolExecutor(2) as pool:
        new, old = pool.map(in_thread, (new_df, snapshot_df))
    pairs = incremental_candidates(new, old, pcfg, id_col)
    est_udf = make_minhash_pair_estimator_udf(pcfg.minhash, estimator)
    return lsh_ops.verified_pairs(
        pairs, new.unionByName(old), est_udf, pcfg.jaccard_threshold, id_col=id_col
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    pcfg: PipelineConfig,
    id_col: str = "doc_id",
    content_col: str = "content",
    estimator: str = "original",
) -> DataFrame:
    """content table -> (id1, id2, est_jaccard, ...) near-duplicate pairs.

    shingle/sketch (narrow) -> LSH bucket groupBy (1 shuffle) -> pair dedup
    (1 shuffle) -> verification join (2 shuffles, id-partitioned).
    """
    signed = with_minhash_signature(df.select(id_col, content_col), pcfg, content_col)
    signed = signed.select(id_col, "sig", "bands", "n_shingles")
    pairs = lsh_ops.candidate_pairs(signed, pcfg.lsh, id_col=id_col)
    est_udf = make_minhash_pair_estimator_udf(pcfg.minhash, estimator)
    return lsh_ops.verified_pairs(
        pairs, signed, est_udf, pcfg.jaccard_threshold, id_col=id_col
    )


def shared_key_pair_counts(
    exploded: DataFrame,
    key_cap: int,
    min_shared: int = 1,
    with_skipped: bool = False,
):
    """(_id, g) rows -> (id1 < id2, inter_count) pairs sharing >= min_shared
    keys, with per-key frequency capped at ``key_cap``.

    The scale-critical shape shared by every exact self-join operator
    (n-gram Jaccard, winnowing fingerprints, SimHash blocks): a key present
    in f rows would emit f^2 join rows under a plain equi-self-join — one
    stop-gram/boilerplate fingerprint at corpus scale is quadratic death.
    Instead, ONE shuffle groups ids per key (collect_list), hot keys
    (f > key_cap) are dropped and REPORTED (same skew guard as the LSH
    band_cap, operators/lsh.py::bucket_pairs; callers can route hot keys to a
    boilerplate path), and the capped s(s-1)/2 pair expansion is a single
    codegen'd flatten/transform (no s^2 array copies).
    """
    pairs, skipped = lsh_ops.bucket_pairs(exploded, "g", key_cap)
    inter = (
        pairs.groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter_count"))
        .filter(F.col("inter_count") >= min_shared)
    )
    if with_skipped:
        return inter, skipped
    return inter


def token_kgram_array(t_col, k: int, sep: str = ""):
    """Distinct token k-gram array expression over a token-array column:
    sep-joined sliding windows; docs shorter than k contribute their whole
    token string as one gram.  ``sep=''`` is ngram_jaccard_pairs' variant
    (grams become a hashed shuffle key, so join-boundary collisions like
    ['ab','c'] vs ['a','bc'] only ever cost a spurious candidate); textual
    consumers (decontamination) MUST use a separator that cannot appear in
    tokens, e.g. ' ', to keep grams collision-free."""
    return F.array_distinct(
        F.when(
            F.size(t_col) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(t_col) - k),
                lambda i: F.concat_ws(sep, F.slice(t_col, i + 1, k)),
            ),
        ).otherwise(F.array(F.concat_ws(sep, t_col)))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 1,
    gram_cap: int = 10_000,
    prefix_q: int = 5,
) -> DataFrame:
    """EXACT k-gram Jaccard pairs, computed relationally (no sketches).

    Token k-grams are built JVM-side with transform/slice over the split
    array.  Returns pairs with inter_count/union_count (exact ints) and
    jaccard_q = round(1e6*J).  Threshold is the rational
    threshold_num/threshold_den (ints avoid float comparison drift vs SQL
    oracles).

    r6 q-prefix shape (guide §2.3: shuffle fewer bytes by pruning
    candidates before the quadratic step).  The old form bucket-expanded
    EVERY gram occurrence (sum f^2 = 127M pair rows at sf1.0, 39-56s) and
    counted 52M mostly-1-shared-gram pairs.  Instead, candidates come from
    a PREFIX index under a global rarity order (AllPairs/PPJoin family,
    generalized to require q shared prefix grams):

      For an output pair, inter >= tau_i := max(min_shared,
      ceil(n_i*num/den)) for each side i (from J >= num/den and
      inter <= n_other).  Sort each doc's non-hot grams by global
      (frequency, hash); with prefix length p_i = n_i' - tau_i +
      min(q, tau_i) the q' = min(q, tau_1, tau_2) globally-rarest shared
      grams provably sit inside BOTH prefixes (if the j-th rarest shared
      gram c_j, j <= q', missed d's prefix, d would hold >= p_d elements
      rarer than c_j of which < j are shared, forcing inter < tau_d).
      So pairs sharing < q' prefix grams cannot be output pairs, and a
      2*min(n1,n2) >= max(n1,n2)-style size filter (den*min >= num*max)
      drops impossible pairs at expansion.

    Prefix buckets are tiny (the rarest grams), so the expansion collapses
    to candidate scale; the handful of candidates is then verified EXACTLY
    with array_intersect over per-doc non-hot gram-hash arrays — identical
    inter/union/jaccard_q arithmetic, verified row-identical vs the old
    form at sf0.001-1.0.

    ``gram_cap``: grams present in more than this many documents
    (stop-grams, boilerplate headers) are dropped from the intersection
    count — the same skew guard as before (one hot gram in f docs would
    emit f(f-1)/2 pair rows).  The default sits far above any test corpus'
    max doc-frequency, so oracle parity at sf<=0.1 is unaffected.
    Grouping keys are 64-bit gram hashes, not gram strings (fewer shuffle
    bytes; collisions ~|grams|^2/2^64, and the exact SQL oracle joins on
    strings with agreement asserted at sf0.01).
    """
    from ..operators.signatures import widen_if_narrow

    toks = widen_if_narrow(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("t")
    )
    # flat gram construction: explode the POSITION sequence and hash one
    # gram per row.  Exploding a transform()-built array goes through a
    # non-codegen Generate and measured 28x slower at sf1.0 (16.7s vs 0.6s
    # for the same 2.6M grams) — the same shape lesson as
    # lcs_substring_pairs.  Short docs (< k tokens) emit one whole-doc gram
    # at i=1, matching token_kgram_array.
    raw = toks.select(
        "_id", "t",
        F.explode(F.expr(f"sequence(1, greatest(1, size(t) - {k} + 1))")).alias("i"),
    )
    rawg = raw.select(
        "_id",
        F.xxhash64(
            F.when(
                F.size("t") >= k, F.concat_ws("", F.slice("t", F.col("i"), k))
            ).otherwise(F.concat_ws("", "t"))
        ).alias("g"),
    )
    # per-doc DISTINCT grams in ONE shuffle: collect_set fuses the dedup
    # with the per-doc grouping, and the eager checkpoint stops the whole
    # gram-construction subtree being planned (and codegen'd, and run)
    # TWICE — once under freq, once under the per_doc join — which the
    # formatted plan showed for the dropDuplicates form (two full
    # scan->Generate->dedup chains; cold 11.9s vs 4.3s at sf1.0-scale,
    # warm parity).  Each doc's grams arrive in one task, so the map-side
    # partial already holds the full set; per-group state is bounded by
    # document length.
    darr = (
        rawg.groupBy("_id")
        .agg(F.collect_set("g").alias("_gset"))
        .localCheckpoint(eager=True)
    )
    dx = darr.select("_id", F.explode("_gset").alias("g"))
    freq = dx.groupBy("g").agg(F.count(F.lit(1)).alias("f"))

    # integer ceil(n*num/den) — exact, no float division
    def _tau(n_col):
        return F.greatest(
            F.lit(min_shared),
            ((n_col * threshold_num + threshold_den - 1) / threshold_den).cast(LongType()),
        )

    # ONE per-doc collect produces everything doc-local: full distinct-gram
    # count n (hot included), the rarity-sorted non-hot hash array (verify
    # side), and its prefix (candidate side) — no corpus-wide window
    qlo_obs = Observation()
    per_doc = (
        dx.join(freq, "g")
        .groupBy("_id")
        .agg(F.collect_list(F.struct(F.col("f"), F.col("g"))).alias("fg"))
        .withColumn("n", F.size("fg"))
        .withColumn(
            "garr",
            F.transform(
                F.array_sort(F.filter("fg", lambda x: x["f"] <= F.lit(gram_cap))),
                lambda x: x["g"],
            ),
        )
        .withColumn(
            "prefarr",
            F.slice(
                "garr",
                F.lit(1),
                F.greatest(
                    F.lit(0),
                    F.size("garr") - _tau(F.col("n"))
                    + F.least(F.lit(prefix_q), _tau(F.col("n"))),
                ),
            ),
        )
        .select("_id", "n", "garr", "prefarr")
        # qlo (see the counting aggregate below) rides on the checkpoint's
        # own job instead of a one-row collect of its own
        .observe(qlo_obs, F.least(F.lit(prefix_q), F.min(_tau(F.col("n")))).alias("qlo"))
        # consumed three times (prefix index + both verify joins); without
        # this the whole dedup->freq->join->collect chain re-runs per
        # consumer.  localCheckpoint, not persist (same rationale as the
        # ANN _coded checkpoint): the ContextCleaner frees its blocks once
        # the plan is unreachable and a driver JVM GC has run (see
        # functions/blocks.py), where a persist stays cached until unpersist.
        .localCheckpoint(eager=True)
    )
    pref = per_doc.select("_id", "n", F.explode("prefarr").alias("g"))

    buckets = pref.groupBy("g").agg(
        F.collect_list(F.struct(F.col("_id").alias("id"), F.col("n").alias("n"))).alias("xs")
    )
    # no cap needed here: a prefix bucket is at most f <= gram_cap entries.
    # Flat double-explode + per-row projection, NOT the nested
    # flatten(transform(..filter(transform(slice..)))) form: with these
    # small (~avg-doc-frequency-sized) bucket arrays the interpreted
    # lambda chain measured 2x slower end-to-end at sf1.0-scale (expansion
    # alone 3.0-6.4s vs 1.2-1.5s; candidates 10.6s vs 5s median) — the
    # same non-codegen-Generate lesson as the gram construction above.
    # (lsh.bucket_pairs measured the OPPOSITE for its up-to-band_cap=500
    # arrays: shape choice is per-site, by measurement.)
    #
    # The counting aggregate carries ONLY the 16-byte (id1, id2) key —
    # n1/n2 are functionally dependent on the ids and re-attach from the
    # checkpointed per_doc at candidate scale.  The exact count filter
    # needs tau(n1)/tau(n2), so the aggregate first applies the RELAXED
    # bound qlo = min(prefix_q, min-over-docs tau(n)) — provably <= every
    # pair's min(prefix_q, tau1, tau2), so no output pair is lost — and the
    # exact per-pair filter runs after the n re-attach on the few
    # survivors.  Narrowing the hash key this way measured 5.2s -> 4.3s
    # warm (18.8 -> 6.5 cold) on the 116M-pair-row sf1.0-scale aggregate.
    qlo = qlo_obs.get["qlo"]
    if qlo is None:  # empty input: no pairs regardless
        qlo = min_shared
    expand = (
        buckets.filter(F.size("xs") >= 2)
        .select("xs", F.explode(F.expr("sequence(1, size(xs) - 1)")).alias("i"))
        .select("xs", "i", F.explode(F.expr("sequence(i + 1, size(xs))")).alias("j"))
        .select(F.expr("xs[i-1]").alias("x"), F.expr("xs[j-1]").alias("y"))
        .filter(
            F.lit(threshold_den) * F.least("x.n", "y.n")
            >= F.lit(threshold_num) * F.greatest("x.n", "y.n")
        )
    )
    cand = (
        expand.select(
            F.least("x.id", "y.id").alias("id1"),
            F.greatest("x.id", "y.id").alias("id2"),
        )
        .filter(F.col("id1") != F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("_shared_pref"))
        .filter(F.col("_shared_pref") >= F.lit(qlo))
    )

    # one per-side join re-attaches n AND the verify array together; the
    # exact prefix-count filter then runs on the qlo survivors before the
    # exact intersection
    out = (
        lsh_ops.pair_sides(cand, per_doc, "_id", ["n", "garr"])
        .filter(
            F.col("_shared_pref")
            >= F.least(F.lit(prefix_q), _tau(F.col("n1")), _tau(F.col("n2")))
        )
        .withColumn("inter_count", F.size(F.array_intersect("garr1", "garr2")))
        .filter(F.col("inter_count") >= min_shared)
        .withColumn("union_count", F.col("n1") + F.col("n2") - F.col("inter_count"))
        .filter(
            F.col("inter_count") * threshold_den >= F.col("union_count") * threshold_num
        )
        .select(
            "id1",
            "id2",
            "inter_count",
            "union_count",
            # floor((2e6*i + u)/(2u)) == round-half-up(1e6*i/u) over exact
            # ints; identical IEEE expression in the SQL oracle
            F.floor(
                (F.lit(2_000_000) * F.col("inter_count") + F.col("union_count"))
                / (F.lit(2) * F.col("union_count"))
            )
            .cast(LongType())
            .alias("jaccard_q"),
        )
    )
    return out


def winnow_substring_pairs(
    df: DataFrame,
    shingle_cfg: ShingleConfig | None = None,
    window: int = 4,
    min_shared: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_cap: int = 10_000,
) -> DataFrame:
    """Winnowing-fingerprint shared-substring pairs (Schleimer et al. '03
    local fingerprinting; the reference's substring-level dedup analog).

    Per doc: k-gram rolling hashes -> min-per-window fingerprints (pandas
    UDF, one Arrow pass) -> capped bucket-expand on the fingerprint value.
    Output: (id1 < id2, shared_fps).  ``fp_cap`` drops boilerplate
    fingerprints shared by more than fp_cap docs (same skew guard as
    gram_cap above).
    """
    from ..functions.textstats_udfs import make_winnow_fingerprint_udf

    from ..operators.signatures import widen_if_narrow

    shingle_cfg = shingle_cfg or ShingleConfig(k=8)
    udf = make_winnow_fingerprint_udf(shingle_cfg, window=window)
    fp = widen_if_narrow(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), F.explode(udf(F.col(text_col))).alias("g")
    )
    inter = shared_key_pair_counts(fp, fp_cap, min_shared)
    return inter.withColumnRenamed("inter_count", "shared_fps")


def simhash_near_dup_pairs(
    df: DataFrame,
    pcfg: PipelineConfig,
    hamming_threshold: int = 3,
    n_blocks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cap: int = 10_000,
) -> DataFrame:
    """SimHash near-dup: 64-bit simhash per doc, pigeonhole block join.

    A pair within hamming distance <= n_blocks-1 shares at least one of the
    n_blocks 16-bit blocks exactly (pigeonhole), so block equality is the
    LSH key; the exact hamming check runs JVM-side via bit_count(xor).

    The block join is the capped bucket-expand: ids AND simhash values are
    grouped per (block_idx, block_val) bucket in one shuffle, hot blocks
    (> block_cap members — e.g. the all-zeros block of near-empty docs) are
    dropped, and the pair expansion carries both simhashes so the hamming
    verify needs no join back.
    """
    from ..functions.textstats_udfs import make_simhash_udf
    from ..operators.signatures import widen_if_narrow

    sim = widen_if_narrow(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        make_simhash_udf(pcfg.shingle)(F.col(text_col)).alias("simhash"),
    )
    block_width = 64 // n_blocks
    blocks = sim.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * block_width).bitwiseAND(
                        F.lit((1 << block_width) - 1)
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    pairs, _ = lsh_ops.bucket_pairs(
        blocks, ["block_idx", "block_val"], block_cap, payload="simhash"
    )
    return (
        pairs.dropDuplicates(["id1", "id2"])
        .withColumn("hamming", F.bit_count(F.col("p1").bitwiseXOR(F.col("p2"))))
        .filter(F.col("hamming") <= hamming_threshold)
        .select("id1", "id2", "hamming")
    )


def lcs_substring_pairs(
    df: DataFrame,
    L: int = 16,
    min_len: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_cap: int = 1000,
) -> DataFrame:
    """EXACT maximal shared substrings between document pairs via char-L-gram
    diagonal islands — the distributed equivalent of a cross-document
    suffix-array LCP pass (sketchlib/suffix.py holds the per-document SA+LCP
    kernels and documents why a corpus-global SA does not distribute).

    Two docs share a substring of length S >= L iff they share a run of
    S - L + 1 positionally-consecutive character L-grams on one diagonal
    (pos1 - pos2 constant).  r6 two-pass shape (the one-pass bucket-expand
    on EVERY gram position shuffled ~|corpus chars| index entries and
    expanded ~sum(f^2) pair-position rows — 389M rows and 140+ s at sf1.0):

    1. CANDIDATES on min_len-char grams: a pair qualifies iff it shares a
       full min_len-char substring, so each doc publishes its DISTINCT
       xxhash64(min_len-gram) values and the capped bucket-expand on those
       yields a complete candidate-pair superset.  The index has the same
       ~one-entry-per-character row count as the old L-gram index, but the
       quadratic expansion collapses: an L-gram match only needs 16 shared
       chars and is everywhere (sum f^2 = 389M pair rows at sf1.0), a
       min_len-gram match needs the full 32 and occurs essentially only on
       genuinely-duplicated spans (~output-scale).  The cap is sound: a
       min_len-gram present in > gram_cap docs forces every constituent
       L-gram over gram_cap occurrences — hot, so the exact pass drops that
       span anyway (modulo 64-bit hash collisions merging buckets, the
       same risk class the one-pass form accepted).
    2. EXACT per-pair scan: candidate pairs (few — output-scale, not
       index-scale) join the per-doc xxhash64 gram arrays (built map-side,
       never shuffled corpus-wide) and a broadcast single-row list of hot
       grams (occurrences > gram_cap, the same global cap as before); a
       vectorized numpy kernel (make_lcs_pair_stats_udf) recomputes the
       diagonal runs bit-identically to the old JVM aggregate scan: hot
       grams excluded, every surviving hash match a diagonal entry, maximal
       consecutive-pos1 runs per diagonal, max run + L - 1 and the count of
       runs >= min_run.

    Guide mapping: §2.3/§2.4 (shuffle a lightweight hash index, decide
    candidates on it, move the heavy gram arrays once, only for candidate
    pairs — the §8 proxy-shuffle pattern) and §4.2 (per-pair scan in numpy
    instead of a 389M-row shuffle + sort_array aggregate).

    Output: (id1 < id2, max_shared_len, n_spans) where max_shared_len is the
    EXACT longest common substring length (>= min_len) and n_spans counts
    maximal shared-run occurrences of length >= min_len across diagonals.
    Matching is on the 64-bit gram hash, not the gram string
    (ngram_jaccard_pairs' shuffle-bytes argument); a hash collision can only
    seed a length-1 island, invisible unless min_len == L.

    APPROXIMATION BOUND of ``gram_cap`` (ADVICE r5): exactness is relative
    to the CAPPED gram index — L-grams occurring at more than ``gram_cap``
    corpus positions are excluded, which can split runs through boilerplate
    regions and undercount max_shared_len/n_spans versus an uncapped oracle
    (the DuckDB twin shares no cap; the default cap sits above every test
    corpus' max frequency so oracle parity holds at the checked SFs).
    Production callers thresholding through heavy boilerplate should either
    raise the cap or route hot regions to the winnowing/doc_internal_repeats
    boilerplate path, as with shared_key_pair_counts' skipped-key report.

    Reference parity: set-sketch-paper evaluates Jaccard over shingle sets
    (sketch.hpp registerValue/joint estimation); this operator is the
    exact-substring analog its substring-level dedup pass needs at corpus
    scale.  DuckDB oracle: same construction with a string-gram join and a
    ROW_NUMBER island trick (__spark_entry__.oracle_sql()['lcs_substring_pairs']).
    """
    from ..functions.textstats_udfs import make_lcs_pair_stats_udf
    from ..operators.signatures import widen_if_narrow

    min_run = min_len - L + 1
    if min_run < 1:
        raise ValueError(f"min_len ({min_len}) must be >= L ({L})")
    t = widen_if_narrow(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).filter(F.length("_t") >= L)

    # corpus-wide hot grams (> gram_cap occurrences) as ONE broadcastable
    # row.  Shape note: explode the POSITION sequence and hash per row —
    # exploding a pre-built transform() array goes through a non-codegen
    # Generate over nested data and measured 12x slower at sf1.0 (16.5s vs
    # 1.2s for the same 14M hashes).
    hot_row = (
        t.select("_t", F.explode(F.expr(f"sequence(1, length(_t) - {L} + 1)")).alias("i"))
        .select(F.expr(f"xxhash64(substring(_t, i, {L}))").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > gram_cap)
        .agg(F.collect_list("g").alias("hot"))
    )

    # pass 1: min_len-gram hash index -> candidate pairs (complete superset;
    # all-JVM, no Python boundary).  Per-doc duplicate values are not
    # deduped here — duplicate bucket entries only produce duplicate pair
    # rows that the pair groupBy collapses, and the cap stays sound on
    # occurrence counts (occurrences(min_len-gram) <= occurrences of each
    # constituent L-gram).
    fp = (
        t.filter(F.length("_t") >= min_len)
        .select(
            "_id", "_t",
            F.explode(F.expr(f"sequence(1, length(_t) - {min_len} + 1)")).alias("i"),
        )
        .select("_id", F.expr(f"xxhash64(substring(_t, i, {min_len}))").alias("g"))
    )
    # checkpointed: consumed twice (the candidate-doc semi-join key set and
    # the pair join below)
    cand = (
        shared_key_pair_counts(fp, gram_cap, 1)
        .select("id1", "id2")
        .localCheckpoint(eager=True)
    )

    # per-doc gram-hash arrays (gs[i] = xxhash64 of the gram at 1-based
    # char position i+1 — identical values to the old exploded index),
    # built ONLY for documents that appear in a candidate pair: the
    # interpreted transform costs ~1 hash per corpus character, and the
    # previous shape evaluated it over the FULL corpus in BOTH join
    # subtrees (two Projects upstream of the id1/id2 joins) — 28M
    # interpreted xxhash64 calls at sf1.0 scale for arrays of which only
    # the candidate docs' are ever read.  The semi-join keeps both
    # evaluations at candidate-doc scale (an eager checkpoint here was
    # measured NO faster at either scale and costs one extra job — the
    # two subtree evaluations over the small doc subset are cheaper than
    # the materialization barrier).
    cand_ids = (
        cand.select(F.col("id1").alias("_id"))
        .union(cand.select(F.col("id2").alias("_id")))
        .distinct()
    )
    gs = t.join(cand_ids, "_id", "left_semi").select(
        "_id",
        F.expr(
            f"transform(sequence(1, length(_t) - {L} + 1), "
            f"i -> xxhash64(substring(_t, i, {L}))) as gs"
        ),
    )

    # pass 2: exact diagonal-run scan per candidate pair.  The one-row hot
    # list rides a dummy-key BROADCAST HASH join (an actual crossJoin would
    # plan as BroadcastNestedLoopJoin and trip the no-cartesian audit), and
    # the kernel is marked nondeterministic so the >= min_len filter is not
    # pushed below/duplicated around the Python evaluation (guide §4.4).
    paired = (
        lsh_ops.pair_sides(cand, gs, "_id", ["gs"])
        # both keys are data-derived zeros (least(size(x), 0) == 0 because
        # size >= 0, which the optimizer cannot prove): a literal on either
        # side would be constant-folded, the condition pushed down as a
        # filter, and the join demoted to a nested-loop cross join — this
        # way it stays a real BroadcastHashJoin on matching keys
        .withColumn("_k", F.least(F.size("gs1"), F.lit(0)))
        .join(F.broadcast(hot_row.withColumn("_k", F.least(F.size("hot"), F.lit(0)))), "_k")
    )
    kernel = make_lcs_pair_stats_udf(L, min_run).asNondeterministic()
    return (
        paired.select("id1", "id2", kernel("gs1", "gs2", "hot").alias("s"))
        .select(
            "id1",
            "id2",
            F.col("s.max_shared_len").alias("max_shared_len"),
            F.col("s.n_spans").alias("n_spans"),
        )
        .filter(F.col("max_shared_len") >= min_len)
    )
