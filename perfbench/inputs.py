"""Seeded input generators.  The same seed always gives the same inputs;
the program under test sees only what these return.

- ``ZipfCorpus``: a non-``Mapping`` dict-like whose ``__getitem__``
  regenerates document ``k`` from ``(seed, k)``, so it can travel to
  executors and read there (the reference's lazy-source contract).
  ``dict(corpus.items())`` is the same corpus as a plain dict.
- ``write_documents``: a ``documents`` parquet table with the shape of the
  registry's fixture (30-word vocabulary, 10-100 words a document, exact
  and near duplicates planted), for the DataFrame queries.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)


class ZipfCorpus:
    """``n_docs`` documents of ``words_per_doc`` words drawn from a Zipf
    (exponent ``s``) vocabulary of ``vocab`` words named ``w<rank>``."""

    def __init__(
        self, seed: int, n_docs: int, words_per_doc: int, vocab: int, s: float = 1.0
    ) -> None:
        self.seed, self.n_docs, self.words_per_doc = seed, n_docs, words_per_doc
        self.vocab, self.s = vocab, s
        self._cdf: np.ndarray | None = None

    def __getstate__(self) -> dict:
        # the cdf is rebuilt where it is used, not shipped with each task
        return {**self.__dict__, "_cdf": None}

    def __iter__(self) -> Iterator[int]:
        return iter(range(self.n_docs))

    def __getitem__(self, k: int) -> str:
        if not 0 <= k < self.n_docs:
            raise KeyError(k)
        if self._cdf is None:
            w = 1.0 / np.arange(1, self.vocab + 1, dtype=np.float64) ** self.s
            self._cdf = np.cumsum(w) / w.sum()
        u = np.random.default_rng((self.seed, k)).random(self.words_per_doc)
        ranks = np.minimum(np.searchsorted(self._cdf, u), self.vocab - 1)
        return " ".join("w%d" % r for r in ranks.tolist())

    def items(self) -> Iterator[tuple[int, str]]:
        return ((k, self[k]) for k in self)

    def size(self, distinct_keys: int, nbytes: int) -> dict:
        return {
            "docs": self.n_docs,
            "words": self.n_docs * self.words_per_doc,
            "distinct_keys": distinct_keys,
            "bytes": nbytes,
            "vocab": self.vocab,
            "zipf_s": self.s,
        }


def documents_rows(seed: int, n_docs: int) -> dict[str, list]:
    """Columns of a seeded ``documents`` table: uniform 10-100 words over
    ``DOC_WORDS``; one exact duplicate per 625 documents (at least one) and
    5% near duplicates (a copy with a tenth of its words replaced)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    langs: list[str] = []
    every = max(2, n_docs // max(1, n_docs // 625))
    for d in range(n_docs):
        if texts and d % every == every - 1:
            j = int(rng.integers(0, len(texts)))
            texts.append(texts[j])
            langs.append(langs[j])
        elif texts and rng.random() < 0.05:
            j = int(rng.integers(0, len(texts)))
            words = texts[j].split(" ")
            for _ in range(max(1, len(words) // 10)):
                words[int(rng.integers(0, len(words)))] = DOC_WORDS[
                    int(rng.integers(0, len(DOC_WORDS)))
                ]
            texts.append(" ".join(words))
            langs.append(langs[j])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), n)))
            langs.append(LANGS[int(rng.choice(len(LANGS), p=LANG_P))])
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(rng.integers(0, 20))}" for _ in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def write_documents(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``out_dir/documents.parquet``; return its size record."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = documents_rows(seed, n_docs)
    tbl = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], type=pa.int64()),
            "text": pa.array(cols["text"]),
            "lang": pa.array(cols["lang"]),
            "source": pa.array(cols["source"]),
            "n_chars": pa.array(cols["n_chars"], type=pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(tbl, path)
    return {
        "rows": n_docs,
        "words": sum(len(t.split(" ")) for t in cols["text"]),
        "bytes": os.path.getsize(path),
    }
