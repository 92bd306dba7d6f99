"""``ingest``: closed-loop generations through ``incremental_index_stream``.

Set-up starts the stream (default build arguments: the doc layout with
positions) over an empty source directory, lands the first batch, which
absorbs the cold start of the build, and makes a warm-up top-k and
phrase read. A run then measures one cycle, the operation behind
``op_p50_ms``:

1. a ``BATCH``-doc parquet file lands in the source directory and
   ``processAllAvailable()`` returns (the batch is visible);
2. ``delete_docs`` drops the batch landed ``LAG`` generations earlier,
   and ``load_generations`` reloads the index;
3. a top-k read (``TOPK_TERMS`` terms) and a phrase read (two adjacent
   words of a live doc) run over it.

Further top-k and phrase read pairs then run over the same index until
the window ends; ``topk_p50_ms`` and ``lookup_p50_ms`` are their
medians. The cycle's own reads open the new generation's files and run
about a third slower, so they are timed with the cycle, not with these.

Many small builds are dominated by fixed per-build cost (jobs, stages,
driver round trips), not per-token work; writes and tombstones run
beside the reads. Reads are checked with the oracle's build-time
statistics while tombstones are pending (the ``delete_docs`` contract).

One cycle (about 8 s on 4 cores) and the reads after it fill the
benchmark's window, so the cycle time is a single sample per run; the
medians and spreads the benchmark is judged by come from runs over
many seeds. Reads over more generations, and tombstones that
accumulate, are not measured at this window.

``compact_generations`` runs once, in the traced run, after the stream
has stopped, and the reads after it are checked with live-doc
statistics. It does not run inside the window: a compaction takes the
generation id ``last + 1``, which is the stream's next epoch, so the
next micro-batch builds into the compacted generation's directory and
its documents are lost.
"""

from __future__ import annotations

import json
import os
import time

from kma_information_retrieval_spark.corpus import CORPUS_SCHEMA
from kma_information_retrieval_spark.streaming.incremental import (
    delete_docs,
    incremental_index_stream,
    load_generations,
)

from . import inputs, layers
from .expected import lookup_ok, topk_ok
from .measure import dir_bytes, p50
from .search import _topk, lookup_request, topk_request

BATCH = 500
LAG = 1
READS = 2  # measured top-k + phrase read pairs, at least
TOPK_TERMS = 2


class _Source:
    """The stream's source directory and the batches landed in it."""

    def __init__(self, work: str, seed: int):
        self.dir = os.path.join(work, "incoming")
        self.stage = os.path.join(work, "staging")
        os.makedirs(self.dir)
        self.seed = seed
        self.rows: list[list[dict]] = []
        self.src_bytes: list[int] = []

    def stage_next(self) -> str:
        """Write the next batch outside the source dir (not timed)."""
        g = len(self.rows)
        rows = inputs.doc_rows(self.seed, g * BATCH, BATCH)
        d = os.path.join(self.stage, f"b{g:05d}")
        self.src_bytes.append(inputs.write_parquet(rows, d, 1))
        self.rows.append(rows)
        return os.path.join(d, "part-00000.parquet")

    def land(self, staged: str) -> None:
        g = len(self.rows) - 1
        os.rename(staged, os.path.join(self.dir, f"batch-{g:05d}.parquet"))

    def ids(self, g: int) -> list[int]:
        return [r["doc_id"] for r in self.rows[g]]

    def docs(self, gens) -> dict[int, str]:
        return {r["doc_id"]: r["content"] for g in gens for r in self.rows[g]}


def run_ingest(run) -> dict:
    spark, seed, tr = run.spark, run.args.seed, run.tracer
    out_dir = os.path.join(run.work, "index")
    src = _Source(run.work, seed)
    with run.setup("stream_start"):
        stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src.dir)
        query = incremental_index_stream(stream, out_dir)
    try:
        staged = src.stage_next()
        with run.setup("first_generation"):
            src.land(staged)
            query.processAllAvailable()
        qm = inputs.QueryMaker(seed)
        warm = inputs.QueryMaker(seed + 7919)
        with run.setup("warmup"):
            gi = load_generations(spark, out_dir)
            _topk(gi, "w", warm.terms(TOPK_TERMS))
            gi.query(warm.phrase(src.rows[0])).collect()

        lat = {"visible": [], "delete": [], "load": [], "topk": [], "lookup": []}
        gen_spans, spans = [], {"topk": [], "lookup": []}
        reads = []  # (kind, query, answer)
        t_start = time.perf_counter()
        deadline = t_start + run.args.seconds
        # the measured cycle: the batch lands and becomes visible, the
        # batch LAG generations back is deleted, the index is reloaded and
        # a first topk and phrase read run over it
        staged = src.stage_next()
        g = len(src.rows) - 1
        tr.request = f"gen{g}"
        cycle_start = time.perf_counter()
        with tr.span("ingest.generation", gen=g) as sp:
            src.land(staged)
            query.processAllAvailable()
        lat["visible"].append(sp["wall_s"])
        gen_spans.append(sp)
        with tr.span("ingest.delete") as sp:
            delete_docs(spark, out_dir, src.ids(g - LAG))
        lat["delete"].append(sp["wall_s"])
        deleted = {g - LAG}  # batches tombstoned
        with tr.span("ingest.load") as sp:
            gi = load_generations(spark, out_dir)
        lat["load"].append(sp["wall_s"])
        n_gens = [len(gi.gen_dirs)]
        live = [r for b in range(g + 1) if b not in deleted for r in src.rows[b]]
        first = _read_pair(run, gi, qm, live, f"{g}.first", spans, reads)
        cycle_s = time.perf_counter() - cycle_start
        # then more pairs over the same index until the window ends (at
        # least READS): the first reads after a reload open the new
        # generation's files and run slower, so they belong to the cycle
        n = 0
        while n < READS or time.perf_counter() < deadline:
            for kind, wall_s in _read_pair(run, gi, qm, live, f"{g}.{n}", spans,
                                           reads).items():
                lat[kind].append(wall_s)
            n += 1
        window_s = time.perf_counter() - t_start
    finally:
        query.stop()

    # checks, outside every timing
    for b in range(len(src.rows)):
        gen_dir = _gen_dir(out_dir, b)
        run.check_build(f"generation {b}", _manifest(gen_dir), gen_dir,
                        run.answers(f"ingest-{seed}-{BATCH}-batch{b}", src.docs([b])))
    ans = _answers(run, src, len(src.rows), frozenset(deleted))
    for kind, q, got in reads:
        if kind == "topk":
            run.count(topk_ok(got, ans.topk(q)), f"topk {q} at generation {g}")
        else:
            run.count(lookup_ok(got, ans.lookup(q)), f"lookup {q} at generation {g}")

    gen_bytes = [dir_bytes(_gen_dir(out_dir, b)) for b in range(len(src.rows))]
    e2e = {
        "op_p50_ms": 1e3 * cycle_s,
        "topk_p50_ms": 1e3 * p50(lat["topk"]),
        "lookup_p50_ms": 1e3 * p50(lat["lookup"]),
        "index_bytes_per_src_byte": p50(
            [b / s for b, s in zip(gen_bytes, src.src_bytes)]),
    }
    report = {
        "batch_docs": BATCH,
        "delete_lag": LAG,
        "read_pairs": n,
        "window_s": window_s,
        "cycle_s": cycle_s,
        "first_read_ms": {k: 1e3 * v for k, v in first.items()},
        "ingest_docs_per_s": BATCH / lat["visible"][0],
        "ingest_visible_p50_s": p50(lat["visible"]),
        "ingest_query_p50_ms": 1e3 * p50(lat["topk"] + lat["lookup"]),
        "delete_p50_s": p50(lat["delete"]),
        "read_ms": {k: [1e3 * v for v in lat[k]] for k in ("topk", "lookup")},
    }
    out = {"e2e": e2e, "report": report}
    if run.tracer.enabled:
        out["layers"] = _ingest_layers(run, src, out_dir, gen_spans, spans,
                                       lat, n_gens, gen_bytes, deleted, qm)
        report["compact_p50_s"] = out["layers"]["ingest.compact_s"]
    return out


def _read_pair(run, gi, qm, live, tag: str, spans, reads) -> dict[str, float]:
    """A topk read (``TOPK_TERMS`` terms) then a phrase read (two adjacent
    words of a live doc) over ``gi``; returns the wall time of each read
    that did not raise."""
    out = {}
    for kind in ("topk", "lookup"):
        try:
            if kind == "topk":
                q = qm.terms(TOPK_TERMS)
                got, sp = topk_request(run, gi, f"g{tag}", q)
            else:
                q = qm.phrase(live)
                got, sp = lookup_request(run, gi, "phrase", q, f"p{tag}")
            out[kind] = sp["wall_s"]
            spans[kind].append(sp)
            reads.append((kind, q, got))
        except Exception as e:  # a read that raises is counted, not fatal
            run.count(False, f"{kind} read {tag} raised {e!r}")
    return out


def _gen_dir(out_dir: str, g: int) -> str:
    return os.path.join(out_dir, "generations", f"gen={g:010d}")


def _answers(run, src: _Source, n_gens: int, deleted_batches: frozenset):
    """Oracle for the index after ``n_gens`` generations: every landed doc
    counts in the statistics, tombstoned ones are never answers."""
    key = f"ingest-{run.args.seed}-{BATCH}-{n_gens}-" + ",".join(
        map(str, sorted(deleted_batches)))
    dels = frozenset(d for b in deleted_batches for d in src.ids(b))
    return run.answers(key, src.docs(range(n_gens)), dels)


def _ingest_layers(run, src, out_dir, gen_spans, spans, lat, n_gens, gen_bytes,
                   deleted, qm) -> dict:
    spark = run.spark
    out = {}
    builds = []
    for sp in gen_spans:
        gen_dir = _gen_dir(out_dir, sp["gen"])
        builds.append(layers.build_layer(_manifest(gen_dir), sp, run.cpus, gen_dir))
    for k in builds[0]:
        out[k] = p50([b[k] for b in builds])
    out["ingest.gen_build_s"] = p50(lat["visible"])
    out["ingest.delete_s"] = p50(lat["delete"])
    out["ingest.load_s"] = p50(lat["load"])
    out["ingest.generations_at_read"] = p50(n_gens)

    gi = load_generations(spark, out_dir)
    n = len(src.rows)
    ans = _answers(run, src, n, frozenset(deleted))
    docs_df = spark.read.parquet(src.dir)
    out.update(layers.tokenize_replay(run, docs_df, sum(
        _manifest(_gen_dir(out_dir, g))["total_words"] for g in range(n))))
    topk_qs = [qm.terms(k) for k in range(1, 5)]
    seg, seg_rows = layers.segments_replay(
        run, lambda: load_generations(spark, out_dir), topk_qs)
    out.update(seg)
    out.update(layers.codecs_replay(seg_rows))
    out.update(layers.wand_replay(run, gi, topk_qs, ans, spans["topk"]))

    # one lookup of every other kind, beside the loop's phrase reads
    live = [r for b in range(n) if b not in deleted for r in src.rows[b]]
    lookup_spans = list(spans["lookup"])
    for kind in ("boolean", "proximity", "wildcard"):
        q = qm.lookup(kind, live, n)
        got, sp = lookup_request(run, gi, kind, q, f"replay-{kind}")
        run.count(lookup_ok(got, ans.lookup(q)), f"lookup {q} (traced replay)")
        lookup_spans.append(sp)
    out.update(layers.lookup_layer(lookup_spans))
    out.update(layers.wildcard_replay(run, gi.bundle(), [
        qm.wildcard(r) for r in range(3)]))

    written = sum(gen_bytes)
    comp, gi = layers.compaction_layer(run, out_dir, sum(src.src_bytes), written)
    out.update(comp)
    gone = {d for b in deleted for d in src.ids(b)}
    live_docs = {d: c for d, c in src.docs(range(n)).items() if d not in gone}
    after = run.answers(f"ingest-{run.args.seed}-{BATCH}-{n}-compacted", live_docs)
    q = qm.terms(2)
    run.count(topk_ok(_topk(gi, "c", q), after.topk(q)), f"topk {q} after compaction")
    phrase = qm.phrase(live)
    got = [r["doc_id"] for r in gi.query(phrase).collect()]
    run.count(lookup_ok(got, after.lookup(phrase)), f"lookup {phrase} after compaction")
    return out


def _manifest(gen_dir: str) -> dict:
    with open(os.path.join(gen_dir, "manifest.json")) as f:
        return json.load(f)
