"""Seeded input generators for the benchmark.

Everything here is plain numpy/pandas: the library under test only
ever sees the generated parquet files and query specs.

* ``documents``: the ``documents``-shaped corpus the fused serve path
  and the index build read (``doc_id, text, lang, source, n_chars``).
* ``queries``: a stream of fused query specs (text plus lang / source /
  n_chars filters with weights) over either corpus; about a quarter
  are text-only.
* ``crawl``: a crawl corpus (``doc_id, text, lang, source``) with
  planted exact copies, near-duplicates and shared boilerplate lines,
  plus the ids that must survive curation and near-duplicate removal.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LANGS = ["de", "en", "es", "fr", "it"]
N_RAW_SOURCES = 40
# flagship.build_corpus buckets raw sources into these 16 names
SOURCE_BUCKETS = [f"srcb{i}" for i in range(16)]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Distinct pseudo-words of 3-9 random letters. Drawn uniformly, a
    large vocabulary keeps unrelated texts far apart in character
    shingles (a Zipf vocabulary makes every text share its head words)."""
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(_LETTERS, n)))
    return np.array(sorted(words))


def _texts(rng, vocab, n, lo, hi) -> list[str]:
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(vocab), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[idx[pos:pos + ln]]))
        pos += ln
    return out


def documents(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, 3000)
    texts = _texts(rng, vocab, n, 8, 80)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=[0.2, 0.4, 0.15, 0.15, 0.1]),
            "source": [f"src{i}" for i in rng.integers(0, N_RAW_SOURCES, n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def queries(seed: int, n: int, corpus: str) -> list[tuple[str, dict]]:
    """``(query_text, aux_data)`` pairs in ``query.compile_query``'s IR,
    with words from the vocabulary of ``corpus`` (``"documents"`` or
    ``"crawl"``) of this seed, so query words hit."""
    rng = np.random.default_rng([seed, 2])
    # the first draws of the corpus generator's own random stream
    key, size = {"documents": (1, 3000), "crawl": (3, 20_000)}[corpus]
    vocab = vocabulary(np.random.default_rng([seed, key]), size)
    out = []
    for text in _texts(rng, vocab, n, 2, 7):
        aux: dict = {}
        if rng.random() >= 0.25:  # a quarter of the stream is text-only
            langs = sorted(rng.choice(LANGS, int(rng.integers(1, 3)), replace=False))
            aux["lang"] = ((list(langs), bool(rng.random() < 0.2)), float(rng.uniform(1, 3)))
            if rng.random() < 0.5:
                src = sorted(rng.choice(SOURCE_BUCKETS, int(rng.integers(1, 4)), replace=False))
                aux["source"] = ((list(src), False), float(rng.uniform(0.5, 2)))
            lo = float(rng.integers(40, 400))
            aux["n_chars"] = ((lo, lo + float(rng.integers(50, 300)), False), float(rng.uniform(0.5, 2)))
        out.append((text, aux))
    return out


def _near_duplicate(rng, words: list[str]) -> str:
    """A text with exactly the character 5-shingles of ``" ".join(words)``
    but different bytes: a run of words that starts with a repeated word
    is copied in front of that word's second occurrence. Every shingle
    across either seam already occurs at the word's first occurrence,
    so the shingle Jaccard to the original is exactly 1 and MinHash-LSH
    must pair the two, whatever the hash functions."""
    p, q = sorted(rng.choice(len(words), 2, replace=False))
    words = list(words)
    words[q] = words[p]  # plant the repeat
    return " ".join(words[:q] + words[p:q] + words[q:]), " ".join(words)


def crawl(seed: int, n_unique: int) -> tuple[pd.DataFrame, set[int]]:
    """Crawl documents and the ids that survive curation plus
    near-duplicate removal.

    Unique documents are one content line; about 30% carry a shared
    boilerplate header line, whose first occurrence is always in one of
    the lowest ids. Planted on top, with higher ids:

    * exact copies of unique documents: line dedup strips every line,
      and the empty remainder fails the quality gate;
    * near-duplicates of unique documents without boilerplate, under a
      fresh boilerplate header: line dedup strips the header and keeps
      the content line (its bytes differ from the original's), whose
      shingle set equals the original's (see ``_near_duplicate``), so
      MinHash-LSH pairs it with the original and keep-min-id drops it.

    Unrelated documents share almost no shingles (a 20k-word uniform
    vocabulary), so LSH pairs none of them. Every unique id survives
    and no planted id does."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng, 20_000)
    boiler = [" ".join(vocab[rng.integers(0, len(vocab), 8)]) for _ in range(20)]
    lens = rng.integers(30, 50, n_unique)
    words = [list(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    has_boiler = rng.random(n_unique) < 0.3
    has_boiler[: len(boiler)] = True  # first occurrence of every header line
    header = rng.integers(0, len(boiler), n_unique)
    header[: len(boiler)] = np.arange(len(boiler))
    near_of = rng.choice(np.flatnonzero(~has_boiler), max(1, n_unique // 10), replace=False)
    content = [" ".join(w) for w in words]
    near = []
    for i in near_of:
        near_text, content[i] = _near_duplicate(rng, words[i])
        near.append(boiler[int(rng.integers(0, len(boiler)))] + "\n" + near_text)
    texts = [
        (boiler[h] + "\n" + c) if b else c
        for c, b, h in zip(content, has_boiler, header)
    ]
    texts += [texts[i] for i in rng.choice(n_unique, max(1, n_unique // 20), replace=False)]
    texts += near
    n = len(texts)
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.2, 0.4, 0.15, 0.15, 0.1]),
        "source": [f"src{i}" for i in rng.integers(0, N_RAW_SOURCES, n)],
    })
    return df, set(range(n_unique))
