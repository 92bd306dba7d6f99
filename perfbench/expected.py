"""Expected answers from ``oracle.OracleIndex`` and the checks that
compare the engine's answers with them.

Answers are computed once per seed over the same generated documents
the engine indexes, cached on disk, and never inside a timed region.
"""

from __future__ import annotations

import json
import math
import os

from kma_information_retrieval_spark.oracle import OracleIndex

# the tolerance the repository's own rank-identity tests use
SCORE_REL_TOL = 1e-12


class Expected:
    """Oracle over one document set. ``deleted`` docs stay in the
    statistics (tombstones pending: build-time stats, as ``delete_docs``
    documents) but never appear in an answer."""

    def __init__(self, docs: dict[int, str], deleted: frozenset = frozenset()):
        self.oracle = OracleIndex(docs)
        self.deleted = deleted

    def topk(self, terms: list[str], k: int = 10) -> list[tuple[int, float]]:
        if not self.deleted:
            return self.oracle.bm25_topk(terms, k)
        ranked = self.oracle.bm25_topk(terms, self.oracle.n_docs)
        return [(d, s) for d, s in ranked if d not in self.deleted][:k]

    def lookup(self, query: str) -> set[int]:
        return self.oracle.search(query) - self.deleted

    def build_stats(self) -> dict:
        """What a build's manifest and dictionary must say."""
        o = self.oracle
        return {
            "n_docs": o.n_docs,
            "n_docs_tokened": sum(1 for n in o.doclen.values() if n),
            "total_words": sum(o.doclen.values()),
            "n_postings": sum(len(v) for v in o.tf.values()),
            "dictionary": {t: [o.df(t), o.cf(t)] for t in o.tf},
        }


def topk_ok(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same doc ids in the same order, scores within ``SCORE_REL_TOL``."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(
        math.isclose(g, w, rel_tol=SCORE_REL_TOL)
        for (_, g), (_, w) in zip(got, want)
    )


def lookup_ok(got: list[int], want: set[int]) -> bool:
    """Same doc-id set, and no doc returned twice."""
    return len(got) == len(want) and set(got) == want


def build_ok(manifest: dict, dictionary: dict, want: dict) -> list[str]:
    """Mismatches between a build's manifest/dictionary and the oracle;
    an empty list means the build is correct."""
    bad = []
    for key in ("n_docs", "n_docs_tokened", "total_words"):
        if manifest.get(key) != want[key]:
            bad.append(f"{key}: {manifest.get(key)} != {want[key]}")
    n_post = sum(p["n_postings"] for p in manifest.get("partitions", {}).values())
    if n_post != want["n_postings"]:
        bad.append(f"n_postings: {n_post} != {want['n_postings']}")
    avgdl = want["total_words"] / want["n_docs_tokened"]
    if not math.isclose(manifest.get("avgdl", -1.0), avgdl, rel_tol=SCORE_REL_TOL):
        bad.append(f"avgdl: {manifest.get('avgdl')} != {avgdl}")
    if dictionary != {t: tuple(v) for t, v in want["dictionary"].items()}:
        diff = set(dictionary.items()) ^ {(t, tuple(v)) for t, v in want["dictionary"].items()}
        bad.append(f"dictionary: {len(diff)} (term, df, cf) rows differ")
    return bad


class AnswerCache:
    """Expected answers on disk, one JSON file per workload and seed."""

    def __init__(self, path: str):
        self.path = path
        self.data: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                self.data = json.load(f)
        self.dirty = False

    def get(self, key: str, compute):
        if key not in self.data:
            self.data[key] = compute()
            self.dirty = True
        return self.data[key]

    def save(self) -> None:
        if self.dirty:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.data, f)
            os.replace(tmp, self.path)
            self.dirty = False


class Answers:
    """Expected answers for one document set (``prefix`` names it in the
    cache). The oracle is built only when an answer is not cached."""

    def __init__(self, cache: AnswerCache, prefix: str, docs: dict[int, str],
                 deleted: frozenset = frozenset()):
        self.cache, self.prefix = cache, prefix
        self.docs, self.deleted = docs, deleted
        self._expected = None

    def expected(self) -> Expected:
        if self._expected is None:
            self._expected = Expected(self.docs, self.deleted)
        return self._expected

    def topk(self, terms: list[str], k: int = 10) -> list[tuple[int, float]]:
        key = f"{self.prefix}|topk{k}|{' '.join(terms)}"
        got = self.cache.get(key, lambda: self.expected().topk(terms, k))
        return [(int(d), float(s)) for d, s in got]

    def lookup(self, query: str) -> set[int]:
        key = f"{self.prefix}|lookup|{query}"
        return set(self.cache.get(key, lambda: sorted(self.expected().lookup(query))))

    def build_stats(self) -> dict:
        return self.cache.get(f"{self.prefix}|build", lambda: self.expected().build_stats())
