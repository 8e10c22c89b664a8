"""Seeded document and query generator for the SDK workloads.

Words are drawn from a Zipf-distributed vocabulary of pseudo-words, so
the corpus has realistic term statistics: a few very common terms,
a long tail of rare ones, and tens of thousands of distinct tokens.
(The catalog's own ``documents`` table has a few dozen distinct words;
a corpus built from it routes the served index to ivfflat and gives
degenerate full-text postings.)
"""

from __future__ import annotations

import numpy as np

VOCAB = 20_000
ZIPF_S = 1.07
WORDS_PER_DOC = (20, 60)
_SYLL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


class Corpus:
    """Documents ``{"id", "body", "cat"}`` and query strings, all drawn
    from one seeded generator. ``cat`` takes ``n_cats`` values, each
    held by at least one of the first ``n_cats`` documents, and is the
    field that filtered searches select on."""

    def __init__(self, seed: int, n_docs: int, n_cats: int):
        self.rng = np.random.default_rng(seed)
        words: set[str] = set()
        while len(words) < VOCAB:
            n = int(self.rng.integers(2, 5))
            words.add("".join(_SYLL[i] for i in self.rng.integers(0, len(_SYLL), n)))
        self.words = sorted(words)
        self.rng.shuffle(self.words)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self.p = p / p.sum()
        self.n_cats = n_cats
        self.docs = [self.doc(i) for i in range(n_docs)]

    def text(self, n_words: int) -> str:
        idx = self.rng.choice(VOCAB, n_words, p=self.p)
        return " ".join(self.words[i] for i in idx)

    def doc(self, doc_id: int, extra: str = "") -> dict:
        body = self.text(int(self.rng.integers(WORDS_PER_DOC[0], WORDS_PER_DOC[1] + 1)))
        return {"id": doc_id, "body": f"{body} {extra}".strip(),
                "cat": doc_id % self.n_cats}

    def query(self) -> str:
        return self.text(int(self.rng.integers(3, 9)))
