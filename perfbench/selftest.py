"""Self-test of the answer checks: correct answers pass, corrupted ones
are flagged. Pure Python, no Spark session:

    python3 perfbench/run.py --selftest
"""

from __future__ import annotations

import sys

from . import inputs
from .expected import Expected, build_ok, lookup_ok, topk_ok


def _cases():
    rows = inputs.doc_rows(0, 0, 300)
    docs = {r["doc_id"]: r["content"] for r in rows}
    exp = Expected(docs)
    qm = inputs.QueryMaker(0)
    terms = qm.terms(3)
    top = exp.topk(terms)
    phrase = qm.phrase(rows)
    hits = sorted(exp.lookup(phrase))
    stats = exp.build_stats()
    manifest = {
        "n_docs": stats["n_docs"],
        "n_docs_tokened": stats["n_docs_tokened"],
        "total_words": stats["total_words"],
        "avgdl": stats["total_words"] / stats["n_docs_tokened"],
        "partitions": {"0": {"n_postings": stats["n_postings"]}},
    }
    dictionary = {t: tuple(v) for t, v in stats["dictionary"].items()}
    some_term = next(iter(dictionary))

    yield "topk as computed", True, topk_ok(list(top), top)
    yield "topk, two ranks swapped", False, topk_ok([top[1], top[0]] + top[2:], top)
    d, s = top[0]
    yield "topk, score off by 1e-9", False, topk_ok([(d, s * (1 + 1e-9))] + top[1:], top)
    yield "topk, score off by 1e-14", True, topk_ok([(d, s * (1 + 1e-14))] + top[1:], top)
    yield "topk, last result missing", False, topk_ok(top[:-1], top)
    yield "lookup as computed", True, lookup_ok(hits, set(hits))
    yield "lookup, one doc dropped", False, lookup_ok(hits[1:], set(hits))
    yield "lookup, a doc returned twice", False, lookup_ok(hits + hits[:1], set(hits))
    yield "lookup, a stray doc", False, lookup_ok(hits + [-1], set(hits))
    yield "build as computed", True, not build_ok(manifest, dictionary, stats)
    yield "build, n_docs off by one", False, not build_ok(
        {**manifest, "n_docs": manifest["n_docs"] + 1}, dictionary, stats)
    yield "build, a posting lost", False, not build_ok(
        {**manifest, "partitions": {"0": {"n_postings": stats["n_postings"] - 1}}},
        dictionary, stats)
    df, cf = dictionary[some_term]
    yield "build, one cf wrong", False, not build_ok(
        manifest, {**dictionary, some_term: (df, cf + 1)}, stats)
    deleted = Expected(docs, frozenset({top[0][0]}))
    yield "tombstoned doc never answered", True, top[0][0] not in {
        d for d, _ in deleted.topk(terms)}


def selftest() -> int:
    bad = 0
    for name, want, got in _cases():
        ok = want == got
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: check says "
              f"{'correct' if got else 'wrong'}")
    print(f"selftest: {bad} failing case(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(selftest())
