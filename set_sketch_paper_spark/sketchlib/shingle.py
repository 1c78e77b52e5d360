"""Tokenization and hashed k-shingling.

The reference consumes pre-hashed uint64 elements (sketch.hpp:1040, 1585);
this module is our pipeline's element producer: content string -> set of
64-bit shingle hashes.  The batch kernels split and intern tokens in Arrow
(default ``\\S+`` pattern; other patterns use a per-string regex findall)
and do everything else in numpy.
"""

from __future__ import annotations

import re
from functools import lru_cache
from itertools import chain

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .hashing import U64, splitmix64, _MIX1  # noqa: F401

_TOKEN_SALT = U64(0x7E57_70C3_D00D_F00D)


@lru_cache(maxsize=32)
def _compiled(pattern: str):
    return re.compile(pattern)


def tokenize(text: str, pattern: str = r"\S+", lowercase: bool = False) -> list[str]:
    if lowercase:
        text = text.lower()
    if pattern == r"\S+":
        # str.split() == findall(r"\S+") and is ~5x faster (hot path)
        return text.split()
    return _compiled(pattern).findall(text)


def token_hashes(tokens: list[str], seed: int = 0) -> np.ndarray:
    """uint64 hash per token.

    Python-level hash() is salted per process, so we hash token bytes with a
    deterministic FNV-style fold, vectorized over the batch by interning
    repeated tokens first (source text has heavy token repetition).
    """
    if not tokens:
        return np.empty(0, dtype=U64)
    # intern: hash each distinct token once
    uniq: dict[str, int] = {}
    codes = np.empty(len(tokens), dtype=np.int64)
    for i, t in enumerate(tokens):
        c = uniq.get(t)
        if c is None:
            c = len(uniq)
            uniq[t] = c
        codes[i] = c
    distinct_hashes = np.fromiter(
        (_fnv1a(t) for t in uniq.keys()), dtype=U64, count=len(uniq)
    )
    salt = U64((seed * int(_MIX1)) & 0xFFFFFFFFFFFFFFFF)
    distinct_hashes = splitmix64(distinct_hashes ^ salt)
    return distinct_hashes[codes]


def _fnv1a(token: str) -> int:
    h = 0xCBF29CE484222325
    for b in token.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def shingle_hashes(tok_hashes: np.ndarray, k: int) -> np.ndarray:
    """Distinct uint64 hashes of the k-grams of a token-hash sequence.

    Rolling combine: S = mix(mix(...mix(T_i)·⊕T_{i+1}...)⊕T_{i+k-1}),
    vectorized as k shifted passes (k is small).  Texts shorter than k yield
    a single shingle over all their tokens, so no document maps to the empty
    set (the reference's estimators assume non-degenerate input sets).
    """
    n = len(tok_hashes)
    if n == 0:
        return np.empty(0, dtype=U64)
    if n < k:
        k = n
    s = tok_hashes[: n - k + 1].copy()
    for j in range(1, k):
        s = splitmix64(s ^ _TOKEN_SALT) ^ tok_hashes[j : n - k + 1 + j]
    return np.unique(splitmix64(s))


def _shingle_sets_batch_ref(
    texts, k: int, pattern: str = r"\S+", lowercase: bool = False, seed: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row reference implementation (kept as the equivalence oracle for
    the vectorized batch kernel below; see tests/test_sketchlib.py)."""
    parts: list[np.ndarray] = []
    offsets = np.empty(len(texts) + 1, dtype=np.int64)
    offsets[0] = 0
    for i, text in enumerate(texts):
        th = token_hashes(tokenize(text or "", pattern, lowercase), seed)
        sh = shingle_hashes(th, k)
        parts.append(sh)
        offsets[i + 1] = offsets[i] + len(sh)
    values = np.concatenate(parts) if parts else np.empty(0, dtype=U64)
    return values, offsets


def positional_kgram_hashes(
    texts, k: int, pattern: str = r"\S+", lowercase: bool = False, seed: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """POSITIONAL (non-deduplicated, document-order) k-gram hashes for a
    batch, flat (values, offsets) layout.  Same hash construction as
    ``shingle_sets_batch`` minus the per-row dedup/sort; rows shorter than k
    yield one gram over all their tokens; empty rows yield none.  Feeds
    winnowing (window minima need document order)."""
    th_flat, tok_off, lens = _token_hashes_flat(texts, pattern, lowercase, seed)
    n_docs = len(lens)
    g_sizes = np.where(lens > 0, np.maximum(lens - k + 1, 1), 0)
    g_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(g_sizes, out=g_off[1:])
    out = np.empty(int(g_off[-1]), dtype=U64)
    total = len(th_flat)
    if total == 0:
        return out, g_off

    if total >= k:
        nwin = total - k + 1
        s = th_flat[:nwin].copy()
        for j in range(1, k):
            s = splitmix64(s ^ _TOKEN_SALT)
            s ^= th_flat[j : nwin + j]
        s = splitmix64(s)
        long_rows = np.flatnonzero(lens >= k)
        for i in long_rows:  # slice copies only; no per-gram work
            out[g_off[i] : g_off[i + 1]] = s[tok_off[i] : tok_off[i] + g_sizes[i]]

    short = np.flatnonzero((lens > 0) & (lens < k))
    if len(short):
        max_len = int(lens[short].max())
        sv = th_flat[tok_off[short]].copy()
        for j in range(1, max_len):
            live = lens[short] > j
            idx = tok_off[short[live]] + j
            sv[live] = splitmix64(sv[live] ^ _TOKEN_SALT) ^ th_flat[idx]
        out[g_off[short]] = splitmix64(sv)
    return out, g_off


def _token_hashes_flat(texts, pattern, lowercase, seed):
    """Tokenize + hash a batch: flat token-hash array, token offsets, lens.

    ``texts`` is a list of str/None or a pyarrow string array.  The ``\\S+``
    pattern splits in Arrow: ``utf8_split_whitespace`` equals ``str.split()``
    on every codepoint once the empty tokens it emits for leading/trailing
    whitespace are dropped.  Lowercasing stays in Python (``pc.utf8_lower``
    differs from ``str.lower`` on U+0130).  Other patterns use ``findall``.
    """
    n_docs = len(texts)
    if pattern == r"\S+":
        if lowercase:
            if isinstance(texts, pa.Array):
                texts = texts.to_pylist()
            texts = [t.lower() if t else t for t in texts]
        if not isinstance(texts, pa.Array):
            texts = pa.array(texts, type=pa.string())
        split = pc.utf8_split_whitespace(texts)
        flat = pc.list_flatten(split)
        nonempty = pc.not_equal(pc.binary_length(flat), 0)
        flat = flat.filter(nonempty)
        parents = pc.list_parent_indices(split).filter(nonempty).to_numpy()
        lens = np.bincount(parents, minlength=n_docs)
        enc = pc.dictionary_encode(flat)
        codes = enc.indices.to_numpy()
        uniques = enc.dictionary.to_pylist()
    else:
        import pandas as pd

        if isinstance(texts, pa.Array):
            texts = texts.to_pylist()
        tok_lists = [tokenize(t or "", pattern, lowercase) for t in texts]
        lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n_docs)
        flat_tokens = np.empty(int(lens.sum()), dtype=object)
        flat_tokens[:] = list(chain.from_iterable(tok_lists))
        codes, uniques = pd.factorize(flat_tokens)
    tok_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=tok_off[1:])
    if len(codes) == 0:
        return np.empty(0, dtype=U64), tok_off, lens
    distinct = np.fromiter((_fnv1a(t) for t in uniques), dtype=U64, count=len(uniques))
    salt = U64((seed * int(_MIX1)) & 0xFFFFFFFFFFFFFFFF)
    th_flat = splitmix64(distinct ^ salt)[codes]
    return th_flat, tok_off, lens


def shingle_sets_batch(
    texts, k: int, pattern: str = r"\S+", lowercase: bool = False, seed: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Shingle a batch of texts (bit-identical to ``_shingle_sets_batch_ref``).

    Returns (values, offsets): ``values`` is the concatenation of each text's
    distinct (sorted) shingle hashes; ``offsets[i]:offsets[i+1]`` slices text
    i.  The flat layout feeds np.minimum.reduceat-style batched sketch
    kernels without per-row object overhead.

    ``texts`` is a list of str/None or a pyarrow string array (the signature
    UDF passes its Arrow column as is).

    Hot-path design (this runs inside every signature UDF batch): for the
    default ``\\S+`` pattern the token split and the token interning are
    Arrow kernels over the whole batch (``utf8_split_whitespace``, one
    ``dictionary_encode``), so no per-token Python runs; the byte-level FNV
    hash runs once per *distinct token per batch* (not per occurrence); the
    k-gram rolling combine is a flat numpy pass with row-boundary masking.
    Each row's candidates are contiguous, so the dedup is an in-place
    ``np.sort`` per row segment plus one flat repeat mask, with no global
    sort over (row, value).
    """
    n_docs = len(texts)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    if n_docs == 0:
        return np.empty(0, dtype=U64), offsets
    th_flat, tok_off, lens = _token_hashes_flat(texts, pattern, lowercase, seed)
    total = len(th_flat)
    if total == 0:
        return np.empty(0, dtype=U64), offsets
    # per-row distinct-shingle candidates, laid out row-contiguously: a
    # row with len >= k owns its len-k+1 windows, a short row (0 < len < k)
    # one slot
    long_ = lens >= k
    short = np.flatnonzero((lens > 0) & ~long_)
    seg_sizes = np.where(long_, lens - k + 1, 0)
    seg_sizes[short] = 1
    seg_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(seg_sizes, out=seg_off[1:])
    vals = np.empty(int(seg_off[-1]), dtype=U64)

    # full-width windows: position p valid iff tokens p..p+k-1 share a row;
    # the valid ones are already in row order
    if total >= k:
        nwin = total - k + 1
        s = th_flat[:nwin].copy()
        for j in range(1, k):
            s = splitmix64(s ^ _TOKEN_SALT)
            s ^= th_flat[j : nwin + j]
        s = splitmix64(s)
        row_of_tok = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        valid = row_of_tok[:nwin] == row_of_tok[k - 1 :]
        win = s[valid]
    else:
        win = np.empty(0, dtype=U64)

    # short rows: one shingle folding all tokens, same math as
    # shingle_hashes with k'=len
    is_short = np.zeros(len(vals), dtype=bool)
    is_short[seg_off[short]] = True
    if len(short):
        max_len = int(lens[short].max())
        sv = th_flat[tok_off[short]].copy()
        for j in range(1, max_len):
            live = lens[short] > j
            idx = tok_off[short[live]] + j
            sv[live] = splitmix64(sv[live] ^ _TOKEN_SALT) ^ th_flat[idx]
        vals[is_short] = splitmix64(sv)
    vals[~is_short] = win

    # per-row sort in place (rows are contiguous), then drop repeats
    for i in np.flatnonzero(seg_sizes > 1):
        vals[seg_off[i] : seg_off[i + 1]].sort()
    keep = np.ones(len(vals), dtype=bool)
    keep[1:] = vals[1:] != vals[:-1]
    keep[seg_off[:-1][seg_sizes > 0]] = True
    values = vals[keep]
    rows = np.repeat(np.arange(n_docs, dtype=np.int64), seg_sizes)
    np.cumsum(np.bincount(rows[keep], minlength=n_docs), out=offsets[1:])
    return values, offsets
