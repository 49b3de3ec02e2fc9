"""Token search over a written chunk table, checked against brute force.

Needles come in four classes by document frequency in the generated
corpus: absent, rare (the least frequent 1% of present tokens), medium
(around the median) and common (the 20 most frequent). Queries cycle
through the classes in that order. Every answer of `docs_with_token` is
compared with the (doc_id, source, n_hits) set numpy computes from the
generated arrays.
"""

from __future__ import annotations

import numpy as np

from corpus import Corpus

CLASSES = ("absent", "rare", "medium", "common")
# absent needles are drawn from token ids below this bound
ID_SPACE = 1 << 17


class NeedleSearch:
    def __init__(self, corpus: Corpus, seed: int) -> None:
        self.corpus = corpus
        self.doc_of = np.repeat(np.arange(corpus.n_docs), corpus.lengths())
        pairs = np.unique(
            self.doc_of.astype(np.int64) * ID_SPACE + corpus.values.astype(np.int64)
        )
        df = np.bincount(pairs % ID_SPACE, minlength=ID_SPACE)
        present = np.flatnonzero(df)
        by_df = present[np.argsort(df[present], kind="stable")]  # rarest first
        n = len(by_df)
        self.pools = {
            "absent": np.flatnonzero(df == 0),
            "rare": by_df[: max(n // 100, 1)],
            "medium": by_df[max(n // 2 - n // 20, 0) : n // 2 + n // 20 + 1],
            "common": by_df[-20:],
        }
        self.rng = np.random.default_rng([seed, 4])

    def needles(self, n: int) -> list[int]:
        return [
            int(self.rng.choice(self.pools[CLASSES[i % len(CLASSES)]]))
            for i in range(n)
        ]

    def expected(self, token: int) -> set:
        hits = self.doc_of[self.corpus.values == token]
        docs, counts = np.unique(hits, return_counts=True)
        return {
            (self.corpus.doc_ids[d], self.corpus.sources[d], int(c))
            for d, c in zip(docs.tolist(), counts.tolist())
        }

    def matches(self, token: int, rows) -> bool:
        """True when the docs_with_token rows equal the brute-force answer."""
        got = {(r["doc_id"], r["source"], int(r["n_hits"])) for r in rows}
        return len(got) == len(rows) and got == self.expected(token)
