"""Per-layer metrics for the traced run.

Each function times calls into one module's public functions, either
by reading the spans the workload recorded around those calls or by a
replay: a timed call to the layer's public function on the workload's
own inputs, made in the traced run only. Names follow the modules:
``tokenize.*`` (functions.tokenize), ``codecs.*`` (functions.codecs),
``build.*``/``index.*`` and ``segments.*`` (index.segments), ``wand.*``
(index.wand), ``lookup.*``/``boolean.*``/``indexes.*``
(operators.boolean over the persisted gram tables) and ``ingest.*``
(streaming.incremental).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

from kma_information_retrieval_spark.functions.codecs import delta_vb_encode
from kma_information_retrieval_spark.index.segments import decode_group_blocks
from kma_information_retrieval_spark.index.wand import _idf, make_topk_kernel
from kma_information_retrieval_spark.operators.boolean import wildcard_terms

from . import host
from .expected import topk_ok
from .measure import dir_bytes, p50, per_table_bytes

GRAM_TABLES = ("trigrams", "permuterm", "grams2", "suffixes")


def _cpu_split():
    return host.tree_cpu_s(), host.python_worker_cpu_s()


def tokenize_replay(run, docs_df, n_tokens: int) -> dict:
    """``positional_entries_frame(tokenize_expr(...))`` into a no-op sink:
    the tokenizer plus the positional Arrow kernel, nothing written.
    ``kernel_s`` is the CPU time of the Python workers, where the Arrow
    kernel runs; ``cpu_s`` adds the JVM."""
    from kma_information_retrieval_spark.functions.tokenize import (
        positional_entries_frame,
        tokenize_expr,
    )

    frame = positional_entries_frame(
        docs_df.select("doc_id", tokenize_expr("content").alias("toks")), 32
    )
    cpu0, py0 = _cpu_split()
    with run.tracer.span("replay.tokenize") as sp:
        frame.write.format("noop").mode("overwrite").save()
    cpu1, py1 = _cpu_split()
    return {
        "tokenize.wall_s": sp["wall_s"],
        "tokenize.kernel_s": py1 - py0,
        "tokenize.cpu_s": cpu1 - cpu0,
        "tokenize.tokens_per_s": n_tokens / sp["wall_s"],
        "tokenize.jvm_task_cpu_s": sp["spark"]["cpu_s"],
    }


def _repeat_rate(fn, items: int, min_s: float = 0.3) -> float:
    """items/s of ``fn`` repeated until at least ``min_s`` has passed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return items * reps / dt


def codecs_replay(seg_rows: list) -> dict:
    """Decode the query terms' segment rows with ``decode_group_blocks``
    and encode the decoded doc-id lists again with ``delta_vb_encode``."""
    doc_lists = [decode_group_blocks(r)[0].astype(np.int64) for r in seg_rows]
    n = sum(len(d) for d in doc_lists)
    return {
        "codecs.encode_postings_per_s": _repeat_rate(
            lambda: [delta_vb_encode(d) for d in doc_lists], n),
        "codecs.decode_postings_per_s": _repeat_rate(
            lambda: [decode_group_blocks(r) for r in seg_rows], n),
    }


def segment_rows(index, terms: list[str]):
    """The persisted segment rows a top-k over ``terms`` reads."""
    if hasattr(index, "query_segments"):
        return index.query_segments(terms)
    return index.segments.filter(F.col("term").isin(list(terms)))


def segments_replay(run, load, queries: list[list[str]]) -> tuple[dict, list]:
    """``load()`` (``load_index``/``load_generations``) and the segment
    fetch of each query's terms. Returns the metrics and the rows."""
    with run.tracer.span("replay.segments.load") as sp:
        index = load()
    load_s = sp["wall_s"]
    fetch_s, n_rows, n_post, n_blocks, all_rows = [], [], [], [], []
    for terms in queries:
        with run.tracer.span("replay.segments.fetch") as sp:
            rows = segment_rows(index, terms).collect()
        fetch_s.append(sp["wall_s"])
        n_rows.append(len(rows))
        n_post.append(sum(int(r["df"]) for r in rows))
        n_blocks.append(sum(len(r["block_last"]) for r in rows))
        all_rows.extend(rows)
    return {
        "segments.load_s": load_s,
        "segments.fetch_s": p50(fetch_s),
        "segments.rows_fetched": p50(n_rows),
        "segments.postings_fetched": p50(n_post),
        "segments.blocks_fetched": p50(n_blocks),
    }, all_rows


def _stats(index) -> tuple[int, float]:
    if hasattr(index, "meta"):
        return index.meta["n_docs"], index.meta["avgdl"]
    return index.n_docs, index.avgdl


def wand_replay(run, index, queries: list[list[str]], expect, requests: list[dict]) -> dict:
    """Replay ``make_topk_kernel``'s ``run`` on the rows each query
    fetches, with the same statistics and options the engine passes; the
    result must match the oracle. ``requests`` are the traced top-k
    request spans of the measured loop."""
    n_docs, avgdl = _stats(index)
    multi_gen = len(getattr(index, "gen_dirs", ())) > 1
    deleted = index._deleted_set() if hasattr(index, "_deleted_set") else frozenset()
    kernel_s, dict_s, postings, blocks = [], [], [], []
    for i, terms in enumerate(queries):
        with run.tracer.span("replay.wand.dict_lookup") as sp:
            gdf = {r["term"]: r["df"] for r in
                   index.dictionary.filter(F.col("term").isin(terms)).collect()}
        dict_s.append(sp["wall_s"])
        pdf = segment_rows(index, terms).toPandas()
        idf = {t: _idf(d, n_docs) for t, d in gdf.items()}
        qid = f"r{i}"
        kern = make_topk_kernel(
            idf, {qid: sorted(set(terms))}, avgdl, 10, use_wand=True,
            rescale_bounds=multi_gen, deleted=deleted or None,
        )
        # the engine runs one kernel call per group: per query on the
        # term layout, per (query, gen) or (query, part_id) otherwise
        doc_layout = getattr(index, "meta", {}).get("partition_by") == "doc"
        key = "gen" if "gen" in pdf.columns else ("part_id" if doc_layout else None)
        groups = [pdf] if key is None else [g for _, g in pdf.groupby(key)]
        t0 = time.perf_counter()
        outs = [kern((qid,), g) for g in groups]
        kernel_s.append(time.perf_counter() - t0)
        merged = sorted(
            ((int(d), float(s)) for o in outs for d, s in zip(o["doc_id"], o["score"])),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        run.count(topk_ok(merged, expect.topk(terms)), f"kernel replay {terms}")
        postings.append(int(pdf["df"].sum()))
        blocks.append(int(sum(len(b) for b in pdf["block_last"])))
    k_s = p50(kernel_s)
    out = {
        "wand.kernel_s": k_s,
        "wand.kernel_postings_per_s": sum(postings) / sum(kernel_s),
        "wand.dict_lookup_s": p50(dict_s),
        "wand.blocks_candidate": p50(blocks),
    }
    if requests:
        out["wand.non_kernel_s"] = p50([r["wall_s"] for r in requests]) - k_s
        out.update(_per_request("wand", requests))
    return out


def _per_request(prefix: str, spans: list[dict]) -> dict:
    h = [s["spark"] for s in spans]
    return {
        f"{prefix}.stages_per_request": p50([x["stages"] for x in h]),
        f"{prefix}.tasks_per_request": p50([x["tasks"] for x in h]),
        f"{prefix}.task_s_per_request": p50([x["task_s"] for x in h]),
        f"{prefix}.rows_read_per_result": p50(
            [x["input_records"] / max(1, s.get("results", 0)) for x, s in zip(h, spans)]
        ),
    }


def lookup_layer(spans: list[dict]) -> dict:
    """From traced lookup spans (each with ``plan``/``exec`` children)."""
    out = {}
    for kind in ("boolean", "phrase", "proximity", "wildcard"):
        walls = [s["wall_s"] for s in spans if s.get("kind") == kind]
        out[f"lookup.{kind}_p50_ms"] = 1e3 * p50(walls)
    out["boolean.plan_s"] = p50([s["plan_s"] for s in spans])
    out["boolean.exec_s"] = p50([s["exec_s"] for s in spans])
    out["boolean.eager_jobs"] = sum(s["plan_jobs"] for s in spans)
    out.update(_per_request("boolean", spans))
    return out


def wildcard_replay(run, bundle, patterns: list[str]) -> dict:
    """``wildcard_terms(p).count()`` over the persisted gram tables."""
    walls, matched = [], []
    for p in patterns:
        with run.tracer.span("replay.indexes.wildcard_expand") as sp:
            matched.append(wildcard_terms(p, bundle).count())
        walls.append(sp["wall_s"])
    return {"indexes.wildcard_expand_s": p50(walls),
            "indexes.terms_matched": p50(matched)}


def build_layer(manifest: dict, span: dict, cores: int, index_dir: str) -> dict:
    """Phases from the build manifest, stage metrics from the span
    around the ``build_index`` call, bytes per persisted table."""
    out = {f"build.{k}_s": v for k, v in manifest["phase_secs"].items()}
    for job in ("encode", "grams", "docmap", "saltmap"):
        out[f"build.{job}_s"] = manifest["write_job_secs"].get(f"w_{job}", 0.0)
    h = span["spark"]
    for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"build.{k}"] = h[k]
    out["build.slot_busy_frac"] = h["task_s"] / (span["wall_s"] * cores)
    tables = per_table_bytes(index_dir)
    for t in ("segments", "positional", "dictionary", "docmap"):
        out[f"index.bytes.{t}"] = tables.get(t, 0)
    out["index.bytes.grams"] = sum(tables.get(t, 0) for t in GRAM_TABLES)
    n_post = sum(p["n_postings"] for p in manifest["partitions"].values())
    out["index.bytes_per_posting"] = tables.get("segments", 0) / n_post
    return out


def compaction_layer(run, out_dir: str, src_bytes: int, written_before: int) -> tuple[dict, object]:
    """``compact_generations`` once; bytes it rewrote and the write
    amplification of the whole index history over its source bytes."""
    from kma_information_retrieval_spark.streaming.incremental import compact_generations

    with run.tracer.span("ingest.compact") as sp:
        gi = compact_generations(run.spark, out_dir)
    rewritten = sum(dir_bytes(g) for g in gi.gen_dirs)
    return {
        "ingest.compact_s": sp["wall_s"],
        "ingest.compact_task_s": sp["spark"]["task_s"],
        "ingest.compact_bytes_rewritten": rewritten,
        "ingest.write_amp": (written_before + rewritten) / src_bytes,
    }, gi

