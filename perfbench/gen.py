"""Seeded input generation: web-pages tables and query logs.

Everything here is a pure function of the seed (numpy ``default_rng``), so
the same ``--seed`` gives byte-identical tables and query logs. The engine
only ever sees the parquet files and the query objects built from them.

Corpus model: a letters-only vocabulary of ``VOCAB`` distinct words, Zipf
rank weights ``1 / (r + ZIPF_Q) ** ZIPF_S``, and 20–140 tokens per doc.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 10_000
ZIPF_S = 1.0
ZIPF_Q = 2.7
MIN_LEN, MAX_LEN = 20, 140
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(seed: int) -> np.ndarray:
    """``VOCAB`` distinct lowercase words of 4–9 letters, in rank order
    (index 0 is the most frequent)."""
    rng = np.random.default_rng([seed, 0])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB:
        n = VOCAB - len(words)
        lens = rng.integers(4, 10, size=n)
        chars = rng.integers(0, 26, size=(n, 9))
        for ln, row in zip(lens, chars):
            w = "".join(LETTERS[row[:ln]])
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words, dtype=object)


def zipf_cdf() -> np.ndarray:
    w = 1.0 / (np.arange(VOCAB) + ZIPF_Q) ** ZIPF_S
    c = np.cumsum(w)
    return c / c[-1]


class Corpus:
    """Docs ``[start, start + n)`` of the seed's document stream.

    ``tokens`` is one flat array of term ranks, ``bounds`` the per-doc
    offsets into it. ``rev`` re-draws the text of the same keys (the
    ingest workload's updates); revision 0 is the original text.
    """

    def __init__(self, seed: int, start: int, n: int, rev: int = 0):
        rng = np.random.default_rng([seed, 1, start, rev])
        self.seed, self.start, self.n = seed, start, n
        self.lens = rng.integers(MIN_LEN, MAX_LEN + 1, size=n)
        self.bounds = np.concatenate([[0], np.cumsum(self.lens)])
        u = rng.random(int(self.bounds[-1]))
        self.tokens = np.minimum(
            np.searchsorted(zipf_cdf(), u, side="right"), VOCAB - 1
        )

    def keys(self) -> list[str]:
        return [
            f"https://site{(self.start + i) % 97:02d}.example/{self.seed}/"
            f"{self.start + i:08d}"
            for i in range(self.n)
        ]

    def doc_ranks(self, i: int) -> np.ndarray:
        return self.tokens[self.bounds[i]:self.bounds[i + 1]]

    def distinct_terms(self) -> int:
        """Σ over docs of distinct terms per doc (= Σ df of an exact index)."""
        doc = np.repeat(np.arange(self.n), self.lens)
        pairs = doc.astype(np.int64) * VOCAB + self.tokens
        return int(len(np.unique(pairs)))

    def table(self, vocab: np.ndarray) -> pd.DataFrame:
        """The web-pages frame (url, html, text, lang)."""
        words = vocab[self.tokens]
        texts, htmls = [], []
        for i in range(self.n):
            ws = words[self.bounds[i]:self.bounds[i + 1]]
            half = len(ws) // 2
            a, b = " ".join(ws[:half]), " ".join(ws[half:])
            texts.append(a + " " + b)
            htmls.append(
                f"<html><body><div><p>{a}</p>\n<p>{b}</p></div></body></html>"
                .encode()
            )
        return pd.DataFrame({
            "url": self.keys(),
            "html": htmls,
            "text": texts,
            "lang": [("en", "de", "fr", "es")[(self.start + i) % 4]
                     for i in range(self.n)],
        })

    def write(self, vocab: np.ndarray, path: str) -> None:
        pq.write_table(
            pa.Table.from_pandas(self.table(vocab), preserve_index=False),
            path,
        )
