"""Deterministic synthetic source-file corpus with planted duplicates.

FIXTURES.md F1: an Iceberg-shaped files table (repo, path, commit, lang,
content) where every row is a pure function of (row_id, n_rows, seed) — so
the distributed generator (mapInPandas over spark.range) and the driver-side
pandas generator emit IDENTICAL rows, and truth labels are computable without
storing content.

Planted structure per 100-row block:
- rows  0-59: background (unique random token sequences)
- rows 60-74: near-duplicates — clusters of ~4 mutate a shared background
  prototype by replacing a seeded fraction eps in {0.01,0.05,0.1,0.2}
- rows 75-89: exact duplicates of a background row (different repo/path)
- rows 90-94: exact-substring duplicates (verbatim >=128-token block of a
  background row inside unrelated text)
- rows 95-99: boilerplate skew (shared 200-token license header + unique
  tail) -> hot LSH bands, exercises the band cap
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_LANGS = ["python", "java", "cpp", "go", "js"]
_EXT = {"python": "py", "java": "java", "cpp": "cc", "go": "go", "js": "js"}
_VOCAB_SIZE = 10_000

KIND_BACKGROUND = "background"
KIND_NEAR = "near_dup"
KIND_EXACT = "exact_dup"
KIND_SUBSTRING = "substring_dup"
KIND_BOILER = "boilerplate"


def _vocab(i: np.ndarray) -> list[str]:
    return [f"tok{v}" for v in i]


def row_kind(row_id: int) -> str:
    r = row_id % 100
    if r < 60:
        return KIND_BACKGROUND
    if r < 75:
        return KIND_NEAR
    if r < 90:
        return KIND_EXACT
    if r < 95:
        return KIND_SUBSTRING
    return KIND_BOILER


def _n_background(n_rows: int) -> int:
    full, rem = divmod(n_rows, 100)
    return full * 60 + min(rem, 60)


def _bg_row_id(bg_index: int) -> int:
    return (bg_index // 60) * 100 + (bg_index % 60)


def _background_tokens(row_id: int, seed: int, token_scale: int = 1) -> np.ndarray:
    rng = np.random.RandomState((seed * 1_000_003 + row_id) % (2**31 - 1))
    n = int(rng.randint(50, 400)) * token_scale
    return rng.randint(0, _VOCAB_SIZE, size=n)


def _boiler_header(seed: int) -> np.ndarray:
    rng = np.random.RandomState((seed * 7_777_777 + 13) % (2**31 - 1))
    return rng.randint(0, _VOCAB_SIZE, size=200)


def prototype_of(row_id: int, n_rows: int) -> int | None:
    """Background prototype row id for dup-kind rows (None otherwise).
    Pure function — truth tables need no content."""
    n_bg = _n_background(n_rows)
    r = row_id % 100
    block = row_id // 100
    if row_kind(row_id) == KIND_NEAR:
        ndup_seq = block * 15 + (r - 60)
        return _bg_row_id((ndup_seq // 4) * 2_654_435_761 % n_bg)
    if row_kind(row_id) == KIND_EXACT:
        seq = block * 15 + (r - 75)
        return _bg_row_id(seq * 2_246_822_519 % n_bg)
    if row_kind(row_id) == KIND_SUBSTRING:
        seq = block * 5 + (r - 90)
        return _bg_row_id(seq * 3_266_489_917 % n_bg)
    return None


def make_content_tokens(
    row_id: int, n_rows: int, seed: int, token_scale: int = 1
) -> np.ndarray:
    """token_scale scales every document's length (1 = the original fixture;
    benches use larger values for realistic source-file sizes without
    changing the planted duplicate structure or rng streams)."""
    kind = row_kind(row_id)
    if kind == KIND_BACKGROUND:
        return _background_tokens(row_id, seed, token_scale)
    if kind == KIND_EXACT:
        return _background_tokens(prototype_of(row_id, n_rows), seed, token_scale)
    if kind == KIND_NEAR:
        proto = _background_tokens(prototype_of(row_id, n_rows), seed, token_scale)
        r = row_id % 100
        ndup_seq = (row_id // 100) * 15 + (r - 60)
        eps = [0.01, 0.05, 0.1, 0.2][ndup_seq % 4]
        rng = np.random.RandomState((seed * 19_999_999 + row_id) % (2**31 - 1))
        toks = proto.copy()
        n_edit = max(1, int(round(eps * len(toks))))
        pos = rng.choice(len(toks), size=min(n_edit, len(toks)), replace=False)
        toks[pos] = rng.randint(0, _VOCAB_SIZE, size=len(pos))
        return toks
    if kind == KIND_SUBSTRING:
        proto = _background_tokens(prototype_of(row_id, n_rows), seed, token_scale)
        block = proto[: max(128, min(len(proto), 256))]
        rng = np.random.RandomState((seed * 23_456_789 + row_id) % (2**31 - 1))
        pre = rng.randint(0, _VOCAB_SIZE, size=int(rng.randint(200, 400)))
        post = rng.randint(0, _VOCAB_SIZE, size=int(rng.randint(200, 400)))
        return np.concatenate([pre, block, post])
    # boilerplate
    rng = np.random.RandomState((seed * 31_337 + row_id) % (2**31 - 1))
    tail = rng.randint(0, _VOCAB_SIZE, size=int(rng.randint(10, 30)))
    return np.concatenate([_boiler_header(seed), tail])


def gen_rows(row_ids, n_rows: int, seed: int = 42, token_scale: int = 1) -> pd.DataFrame:
    """The generator: identical output whether called on the driver or
    inside mapInPandas partitions."""
    import hashlib

    recs = []
    for row_id in row_ids:
        row_id = int(row_id)
        toks = make_content_tokens(row_id, n_rows, seed, token_scale)
        lang = _LANGS[row_id % len(_LANGS)]
        commit = hashlib.sha256(f"{seed}:{row_id}".encode()).hexdigest()[:40]
        recs.append(
            {
                "row_id": row_id,
                "repo": f"org{row_id % 50}/repo{row_id % 997}",
                "path": f"src/d{row_id % 37}/f{row_id}.{_EXT[lang]}",
                "commit": commit,
                "lang": lang,
                "content": " ".join(_vocab(toks)),
            }
        )
    return pd.DataFrame.from_records(
        recs, columns=["row_id", "repo", "path", "commit", "lang", "content"]
    )


def files_pandas(n_rows: int, seed: int = 42) -> pd.DataFrame:
    return gen_rows(range(n_rows), n_rows, seed)


def files_table(spark, n_rows: int, seed: int = 42, partitions: int | None = None,
                token_scale: int = 1):
    """Distributed generation: spark.range -> mapInPandas, no driver data."""
    schema = "row_id long, repo string, path string, commit string, lang string, content string"
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism * 2)

    def gen(iterator):
        for pdf in iterator:
            yield gen_rows(pdf["id"].tolist(), n_rows, seed, token_scale)

    return spark.range(0, n_rows, numPartitions=partitions).mapInPandas(gen, schema)
