"""Seeded benchmark inputs: documents, parquet files and query strings.

Documents are ``corpus.row_for(i)`` over an id range that depends on the
seed, so every seed gives fresh content with the same Zipf(1.07) shape
over the 2,000-term code vocabulary. The program under test receives
only the parquet files and query strings made here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kma_information_retrieval_spark import corpus
from kma_information_retrieval_spark.oracle import tokenize

# ids of different seeds never overlap below 10^6 docs per seed
_SEED_STRIDE = 1_000_000

LOOKUP_KINDS = ("boolean", "phrase", "proximity", "wildcard")


def doc_rows(seed: int, start: int, n: int) -> list[dict]:
    """Rows ``start .. start+n-1`` of the seed's document sequence."""
    base = (seed % 100_000) * _SEED_STRIDE
    return [corpus.row_for(base + start + i) for i in range(n)]


def write_parquet(rows: list[dict], path: str, n_files: int) -> int:
    """Write ``rows`` as ``n_files`` parquet files under ``path`` (a new
    directory); returns the content bytes written."""
    os.makedirs(path, exist_ok=True)
    cols = ("doc_id", "repo", "path", "commit", "lang", "content")
    step = -(-len(rows) // n_files)
    for k in range(0, len(rows), step):
        chunk = rows[k : k + step]
        table = pa.table({c: [r[c] for r in chunk] for c in cols})
        pq.write_table(table, os.path.join(path, f"part-{k // step:05d}.parquet"))
    return sum(len(r["content"].encode()) for r in rows)


class QueryMaker:
    """Draws query terms Zipfian from the vocabulary and phrase/near
    operands from the tokens of real generated documents. The query
    shape (term count, AND/OR/NOT, phrase width, ``k``, wildcard form)
    comes from a round number, not from the seed, so every seed
    measures the same mix of shapes."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = corpus._VOCAB
        self.probs = corpus._PROBS

    def terms(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, replace=False, p=self.probs)
        return [self.vocab[int(i)] for i in idx]

    def _window(self, rows: list[dict], width: int) -> list[str]:
        toks: list[str] = []
        while len(toks) < width:
            toks = tokenize(rows[int(self.rng.integers(len(rows)))]["content"])
        at = int(self.rng.integers(len(toks) - width + 1))
        return toks[at : at + width]

    def phrase(self, rows: list[dict], r: int = 0) -> str:
        return '"' + " ".join(self._window(rows, 2 + r % 2)) + '"'

    def near(self, rows: list[dict], r: int = 0) -> str:
        k = 2 + r % 4
        win = self._window(rows, k + 1)
        return f"near/{k}({win[0]} {win[-1]})"

    def boolean(self, r: int = 0) -> str:
        a, b = self.terms(2)
        return (f"{a} and {b}", f"{a} or {b}", f"{a} and not {b}")[r % 3]

    def wildcard(self, r: int = 0) -> str:
        t = self.terms(1)[0]
        while len(t) < 5:
            t = self.terms(1)[0]
        return (t[:4] + "*", "*" + t[-4:], "*" + t[1:4] + "*")[r % 3]

    def lookup(self, kind: str, rows: list[dict], r: int = 0) -> str:
        if kind == "boolean":
            return self.boolean(r)
        if kind == "phrase":
            return self.phrase(rows, r)
        if kind == "proximity":
            return self.near(rows, r)
        return self.wildcard(r)
