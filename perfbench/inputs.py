"""Seeded input generator for the benchmark workloads.

Every corpus gets a documents table with the schema of the engine's test
corpus (``doc_id`` bigint, ``text``, ``lang``, ``source``, ``n_chars``),
written to parquet. The engine only ever sees that parquet file (and, for
the checkpoint probe, the media-store parquet it renders from it).

The same (workload, seed) always yields the same bytes, and the result is
cached under the work directory, so a repeated seed skips generation.

Work per run is held nearly constant across seeds: each workload draws its
document lengths from a FIXED multiset and only the order, the doc ids and
the words change with the seed. That keeps seed-to-seed spread down to the
slight change in how many spans land on the media rule.

Each corpus varies one traffic property, recorded in ``PROPERTY``:
``fused_completo`` the corpus size, ``text_ops`` the near-duplicate share,
``store_probe`` (the checkpoint probe of traced runs) the length tail: a few
documents hold 30 to 150 spans.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# The engine's test-corpus vocabulary. Every character is a lowercase ASCII
# letter, all of which the engine's 5x7 font has a glyph for (checked by the
# self-test against the font's own charset).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "fr", "de", "zh")

FUSED_DOCS = 240
STORE_DOCS = 40
STORE_LONG_WORDS = (240, 480, 800, 1200)  # 30..150 spans each
TEXT_DOCS = 400
TEXT_NEARDUP_SHARE = 0.15

PROPERTY = {
    "fused_completo": {"corpus_docs": FUSED_DOCS, "words_per_doc": "10-100 uniform"},
    "store_probe": {"corpus_docs": STORE_DOCS,
                     "length_tail_words": list(STORE_LONG_WORDS)},
    "text_ops": {"corpus_docs": TEXT_DOCS, "neardup_share": TEXT_NEARDUP_SHARE},
}


def _uniform_lengths(n: int) -> list[int]:
    """Fixed multiset of n lengths spread evenly over 10..100 words."""
    return [10 + (k * 91) // n for k in range(n)]


def _frame(doc_ids: list[int], texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": pd.array(doc_ids, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i % len(LANGS)] for i in range(len(texts))],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
    })


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), size=n)]


def _id_base(seed: int) -> int:
    # large, seed-dependent bigint ids: exercises the bigint -> string key
    # path while staying far from int64 overflow for any practical seed
    return 1_000_000_000 + (seed % 100_000) * 100_000


def fused_corpus(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    lengths = rng.permutation(_uniform_lengths(FUSED_DOCS))
    base = _id_base(seed)
    texts = [" ".join(_words(rng, int(n))) for n in lengths]
    return _frame([base + k for k in range(FUSED_DOCS)], texts)


def store_corpus(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    short = _uniform_lengths(STORE_DOCS - len(STORE_LONG_WORDS))
    lengths = rng.permutation(short + list(STORE_LONG_WORDS))
    base = _id_base(seed)
    texts = [" ".join(_words(rng, int(n))) for n in lengths]
    return _frame([base + k for k in range(STORE_DOCS)], texts)


def text_corpus(seed: int) -> pd.DataFrame:
    """Small doc ids (0..N-1): several text queries restrict their pair
    scope to low ids or plant copies at a fixed id offset."""
    rng = np.random.default_rng([seed, 3])
    lengths = rng.permutation(_uniform_lengths(TEXT_DOCS))
    docs = [_words(rng, int(n)) for n in lengths]
    n_dup = int(round(TEXT_NEARDUP_SHARE * TEXT_DOCS))
    # near-duplicates: doc k (k >= 1) becomes a copy of an earlier doc with
    # 1-3 word substitutions; a third of them fall below id 150 so the
    # id-scoped pair queries see non-trivial pair sets too
    low = rng.choice(np.arange(1, 150), size=n_dup // 3, replace=False)
    high = rng.choice(np.arange(150, TEXT_DOCS), size=n_dup - len(low), replace=False)
    for k in sorted(int(x) for x in np.concatenate([low, high])):
        src = list(docs[int(rng.integers(0, k))])
        for _ in range(int(rng.integers(1, 4))):
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        docs[k] = src
    return _frame(list(range(TEXT_DOCS)), [" ".join(d) for d in docs])


GENERATORS = {
    "fused_completo": fused_corpus,
    "store_probe": store_corpus,
    "text_ops": text_corpus,
}


def _signature(workload: str) -> str:
    """Short digest of the generator's parameters, so a changed generator
    never reads a stale cache entry."""
    import hashlib
    import inspect

    src = inspect.getsource(GENERATORS[workload]) + repr((VOCAB, PROPERTY[workload]))
    return hashlib.sha1(src.encode()).hexdigest()[:8]


def documents_dir(work: str, workload: str, seed: int) -> str:
    """Directory holding ``documents.parquet`` for (workload, seed),
    generating it on first use. Writes go to a temp name and are renamed
    into place, so an interrupted run never leaves a partial cache entry."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-{_signature(workload)}")
    path = os.path.join(d, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        GENERATORS[workload](seed).to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return d
