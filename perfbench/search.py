"""``search``: closed-loop top-k and lookup requests over a built index.

Set-up builds a term-layout index over the seed's corpus with
``build_index(spark, docs, out, partition_by="term")`` (every other
argument at its default), loads it and warms it up. One
client then sends whole rounds of ``ROUND`` requests back to back, as
many as come nearest to filling the window (at least one), alternating
1:1 between

* topk: ``bm25_topk_batch(idx, {qid: terms}, 10).collect()`` with 1, 2,
  3 and 4 terms drawn Zipfian from the vocabulary, and
* lookup: ``idx.query(q).collect()``, one boolean (AND / OR / AND NOT),
  phrase, ``near/k`` and wildcard (prefix / suffix / infix) lookup per
  round; ``inputs.QueryMaker`` picks each shape from the round number.

``index.wand`` does most of the topk work and none of the lookup work;
the positional and gram tables do the reverse. Nothing is written.
"""

from __future__ import annotations

import os
import time

from kma_information_retrieval_spark.index.segments import build_index, load_index
from kma_information_retrieval_spark.index.wand import bm25_topk_batch

from . import host, inputs, layers
from .expected import lookup_ok, topk_ok
from .measure import dir_bytes, p50, tail

N_DOCS = 4_000
N_QUERIES = 32  # per kind; the loop cycles through them
ROUND = 2 * len(inputs.LOOKUP_KINDS)  # requests per round


def _topk(idx, qid: str, terms: list[str]) -> list[tuple[int, float]]:
    """Top-10 over a ``SegmentIndex`` or a ``GenerationIndex``."""
    if hasattr(idx, "gen_dirs"):
        rows = idx.bm25_topk_batch({qid: terms}, 10).collect()
    else:
        rows = bm25_topk_batch(idx, {qid: terms}, 10).collect()
    return sorted(((r["doc_id"], r["score"]) for r in rows), key=lambda x: (-x[1], x[0]))


def topk_request(run, index, qid: str, terms: list[str]):
    run.tracer.request = qid
    with run.tracer.span("request.topk", kind="topk", terms=terms) as sp:
        got = _topk(index, qid, terms)
        sp["results"] = len(got)
    return got, sp


def lookup_request(run, index, kind: str, q: str, request: str) -> tuple[list[int], dict]:
    """``index.query(q)`` (plan) then ``collect()`` (execute), each timed."""
    run.tracer.request = request
    with run.tracer.span("request.lookup", kind=kind, query=q) as sp:
        with run.tracer.span("lookup.plan") as plan:
            df = index.query(q)
        with run.tracer.span("lookup.exec") as ex:
            got = [r["doc_id"] for r in df.collect()]
        sp["results"] = len(got)
    sp["plan_s"], sp["exec_s"] = plan["wall_s"], ex["wall_s"]
    sp["plan_jobs"] = plan.get("spark", {}).get("jobs", 0)
    return got, sp


def run_search(run) -> dict:
    spark, seed = run.spark, run.args.seed
    rows = inputs.doc_rows(seed, 0, N_DOCS)
    docs = {r["doc_id"]: r["content"] for r in rows}
    answers = run.answers(f"search-{seed}-{N_DOCS}", docs)

    corpus_dir = os.path.join(run.work, "corpus")
    # laid out as generation 0 of an incremental index, so the traced run
    # can replay the streaming layer on it once the loop is done
    idx_dir = os.path.join(run.work, "index", "generations", "gen=0000000000")
    with run.setup("corpus_write"):
        src_bytes = inputs.write_parquet(rows, corpus_dir, run.cpus)
    docs_df = spark.read.parquet(corpus_dir)
    with run.setup("build"), run.tracer.span("setup.build") as build_span:
        manifest = build_index(spark, docs_df, idx_dir, partition_by="term")
    with run.setup("load"):
        idx = load_index(spark, idx_dir)

    qm = inputs.QueryMaker(seed)
    # round r: topk with 1, 2, 3, 4 terms, one lookup of each kind in shape r
    topk_qs = [qm.terms(1 + n % 4) for n in range(N_QUERIES)]
    lookups = [(k, qm.lookup(k, rows, r)) for r in range(N_QUERIES // 4)
               for k in inputs.LOOKUP_KINDS]
    warm = inputs.QueryMaker(seed + 7919)
    with run.setup("warmup"):  # one round of round 0's shapes, other terms
        for n, kind in enumerate(inputs.LOOKUP_KINDS):
            _topk(idx, f"w{n}", warm.terms(1 + n))
            idx.query(warm.lookup(kind, rows)).collect()

    lat = {"topk": [], "lookup": []}
    spans = {"topk": [], "lookup": []}
    answered = []  # (kind, query number, answer)
    cpu0 = host.tree_cpu_s()
    t_start = time.perf_counter()
    deadline = t_start + run.args.seconds
    i, round_start = 0, t_start
    # whole rounds only, so every run holds the same mix of shapes. A
    # round starts if it would end nearer the window's end than not,
    # taking the last round's length for its own, so a run holds the
    # whole number of rounds nearest to the window
    while True:
        if i and i % ROUND == 0:
            now = time.perf_counter()
            if now + (now - round_start) / 2 > deadline:
                break
            round_start = now
        j = i // 2
        kind = "topk" if i % 2 == 0 else "lookup"
        n = j % (len(topk_qs) if kind == "topk" else len(lookups))
        try:
            if kind == "topk":
                got, sp = topk_request(run, idx, f"q{j}", topk_qs[n])
            else:
                got, sp = lookup_request(run, idx, *lookups[n], request=f"l{j}")
            lat[kind].append(sp["wall_s"])
            if run.tracer.enabled:
                spans[kind].append(sp)
            answered.append((kind, n, got))
        except Exception as e:  # a request that raises is counted, not fatal
            run.count(False, f"{kind} request {i} raised {e!r}")
        i += 1
    window_s = time.perf_counter() - t_start
    cpu_s = host.tree_cpu_s() - cpu0

    # checks, outside every timing
    run.check_build("setup build", manifest, idx_dir, answers)
    for kind, n, got in answered:
        if kind == "topk":
            run.count(topk_ok(got, answers.topk(topk_qs[n])), f"topk {topk_qs[n]}")
        else:
            run.count(lookup_ok(got, answers.lookup(lookups[n][1])),
                      f"lookup {lookups[n][1]}")

    e2e = {
        "op_p50_ms": 1e3 * p50(lat["topk"] + lat["lookup"]),
        "topk_p50_ms": 1e3 * p50(lat["topk"]),
        "lookup_p50_ms": 1e3 * p50(lat["lookup"]),
        "index_bytes_per_src_byte": dir_bytes(idx_dir) / src_bytes,
    }
    report = {
        "docs": N_DOCS,
        "requests": i,
        "window_s": window_s,
        "cpu_s_per_request": cpu_s / max(1, i),
        "request_ms": {k: [1e3 * v for v in lat[k]] for k in ("topk", "lookup")},
        "topk_tail_ms": _ms_tail(lat["topk"]),
        "lookup_tail_ms": _ms_tail(lat["lookup"]),
        "build_docs_per_s_setup": N_DOCS / build_span["wall_s"],
    }
    out = {"e2e": e2e, "report": report}
    if run.tracer.enabled:
        out["layers"] = _search_layers(run, idx, idx_dir, docs_df, manifest, build_span,
                                       topk_qs, lookups, spans, answers, rows)
    return out


def _ms_tail(values: list[float]) -> dict:
    t = tail(values)
    if t["value"] is not None:
        t["value"] *= 1e3
    return t


def _search_layers(run, idx, idx_dir, docs_df, manifest, build_span, topk_qs,
                   lookups, spans, answers, rows) -> dict:
    spark = run.spark
    out = {}
    out.update(layers.tokenize_replay(run, docs_df, manifest["total_words"]))
    seg, seg_rows = layers.segments_replay(
        run, lambda: load_index(spark, idx_dir), topk_qs[:4])
    out.update(seg)
    out.update(layers.codecs_replay(seg_rows))
    out.update(layers.wand_replay(run, idx, topk_qs[:4], answers, spans["topk"]))
    out.update(layers.lookup_layer(spans["lookup"]))
    out.update(layers.wildcard_replay(
        run, idx.bundle(), [q for k, q in lookups[:16] if k == "wildcard"]))
    out.update(layers.build_layer(manifest, build_span, run.cpus, idx_dir))
    out["ingest.gen_build_s"] = build_span["wall_s"]
    out.update(_streaming_replay(run, idx_dir, rows))
    return out


def _streaming_replay(run, gen_dir, rows) -> dict:
    """The streaming layer's delete, load, read and compaction on the
    set-up index (generation 0), each read checked against the oracle:
    build-time statistics while tombstones are pending, live-doc
    statistics after compaction."""
    from kma_information_retrieval_spark.streaming.incremental import (
        delete_docs,
        load_generations,
    )

    spark, seed = run.spark, run.args.seed
    out_dir = os.path.dirname(os.path.dirname(gen_dir))
    written = dir_bytes(gen_dir)
    out = {}

    docs = {r["doc_id"]: r["content"] for r in rows}
    gone = [r["doc_id"] for r in rows[: len(rows) // 8]]
    with run.tracer.span("ingest.delete") as delete:
        delete_docs(spark, out_dir, gone)
    with run.tracer.span("ingest.load") as load:
        gi = load_generations(spark, out_dir)
    out["ingest.delete_s"] = delete["wall_s"]
    out["ingest.load_s"] = load["wall_s"]
    out["ingest.generations_at_read"] = len(gi.gen_dirs)
    terms = inputs.QueryMaker(seed + 104729).terms(2)
    pending = run.answers(f"search-{seed}-{N_DOCS}-pending", docs, frozenset(gone))
    run.count(topk_ok(_topk(gi, "p", terms), pending.topk(terms)),
              f"topk over tombstoned generation {terms}")

    src_bytes = sum(len(c.encode()) for c in docs.values())
    comp, gi = layers.compaction_layer(run, out_dir, src_bytes, written)
    out.update(comp)
    live = {d: c for d, c in docs.items() if d not in set(gone)}
    compacted = run.answers(f"search-{seed}-{N_DOCS}-compacted", live)
    run.count(topk_ok(_topk(gi, "c", terms), compacted.topk(terms)),
              f"topk over compacted generation {terms}")
    return out
