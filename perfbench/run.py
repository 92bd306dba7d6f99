"""Repository benchmark: one seeded, closed-loop workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

Each run starts one Spark session on ``local[nproc]``, builds the
workload's inputs from ``--seed``, sets up (timed as ``setup_s``),
sends requests from one client with no think time for ``--seconds``,
and checks every answer against ``oracle.OracleIndex``. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``;
the per-layer metrics, from spans and Spark stage metrics, with
``--trace 1``). The full report, and the spans of a traced run, are
written under ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

WORK_DIR = ".perfbench_work"
PROBE_S = 0.3  # throttle probe window before and after a run
THROTTLED_BELOW = 0.9  # share of nproc the probe must reach (as bench.py)


def _parse(argv, run_seconds: float):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("search", "ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run_seconds,
                    help="measured window (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spark-local", choices=("checkout", "program"),
                    default="checkout",
                    help="shuffle/spill dirs under the checkout (default), or "
                    "where get_spark puts them (/dev/shm when it can)")
    ap.add_argument("--selftest", action="store_true",
                    help="check that the answer checks flag corrupted answers")
    args = ap.parse_args(argv)
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    return args


class Run:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, args, root: str, work: str, cpus: int):
        from perfbench.expected import AnswerCache
        from perfbench.spans import Tracer

        self.args, self.root, self.work, self.cpus = args, root, work, cpus
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.setup_parts: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.cache = AnswerCache(os.path.join(
            root, WORK_DIR, "oracle", f"{args.workload}-seed{args.seed}.json"))

    @contextlib.contextmanager
    def setup(self, part: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_parts[part] = self.setup_parts.get(part, 0.0) + (
                time.perf_counter() - t0)

    def answers(self, prefix: str, docs: dict[int, str], deleted=frozenset()):
        from perfbench.expected import Answers

        return Answers(self.cache, prefix, docs, deleted)

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def check_build(self, what: str, manifest: dict, index_dir: str, answers) -> None:
        """Manifest counts and the (term, df, cf) dictionary against the
        oracle; read with pyarrow, so no Spark job runs."""
        import pyarrow.parquet as pq

        from perfbench.expected import build_ok

        t = pq.read_table(os.path.join(index_dir, "dictionary")).to_pydict()
        dictionary = {term: (df, cf) for term, df, cf in zip(t["term"], t["df"], t["cf"])}
        bad = build_ok(manifest, dictionary, answers.build_stats())
        self.count(not bad, f"{what}: {'; '.join(bad)}")


def _result_line(run, spec: dict, values: dict) -> dict:
    """The contract line: every metric BENCHMARK.json declares for this
    mode, by name and unit."""
    metrics = {}
    for m in spec:
        v = values.get(m["name"])
        if v is None or v != v:  # missing or NaN
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }


def _overhead(traced: dict, untraced_path: str) -> dict:
    """Traced minus untraced end-to-end metrics, as a share of the
    untraced value, when an untraced run of the same seed was saved."""
    if not os.path.exists(untraced_path):
        return {"untraced_run": None}
    with open(untraced_path) as f:
        base = json.load(f)["e2e"]
    out = {"untraced_run": untraced_path}
    for k, v in traced.items():
        if base.get(k):
            out[k] = v / base[k] - 1.0
    return out


def main(argv=None) -> int:
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "kma_information_retrieval_spark"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the repository root; the package and "
              "bench.py were not found here", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        benchmark = json.load(f)
    args = _parse(argv, benchmark["run_seconds"])
    sys.path.insert(0, root)
    if args.selftest:
        from perfbench.selftest import selftest

        return selftest()

    from perfbench import host, session
    from perfbench.ingest import run_ingest
    from perfbench.search import run_search

    work = os.path.join(root, WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = host.nproc()
    session.prepare_env(work, cpus, root, args.spark_local)
    probe_before = host.throttle_probe(PROBE_S)

    run = Run(args, root, work, cpus)
    workload = {"search": run_search, "ingest": run_ingest}[args.workload]
    with host.PeakMemory() as mem:
        with run.setup("session_start"):
            spark = session.start(work, cpus, args.spark_local)
        try:
            run.spark = spark
            run.tracer.attach(spark)
            out = workload(run)
            gc_s = session.jvm_gc_s(spark)
            stamp = host.host_stamp(spark)
            conf = session.effective_conf(spark)
        finally:
            session.stop(spark)
    probe_after = host.throttle_probe(PROBE_S)
    run.cache.save()
    shutil.rmtree(work, ignore_errors=True)

    e2e = dict(out["e2e"])
    e2e["setup_s"] = sum(run.setup_parts.values())
    layers = None
    if run.tracer.enabled:
        layers = dict(out["layers"])
        layers["session.start_s"] = run.setup_parts["session_start"]
        layers["jvm.gc_s"] = gc_s
        layers["trace.harvest_s"] = run.tracer.harvest_s
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loop": "closed, 1 client, no think time",
        "host": stamp,
        "session": conf,
        "throttle_probe": {"before": probe_before, "after": probe_after,
                           "throttled": min(probe_before, probe_after)
                           < THROTTLED_BELOW * cpus},
        "setup_parts_s": run.setup_parts,
        "peak_rss_mb": mem.peak_rss_mb,
        "error_rate": len(run.failures) / max(1, run.attempted),
        "failures": run.failures[:50],
        "e2e": e2e,
        **out["report"],
    }
    results = os.path.join(root, WORK_DIR, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if layers is not None:
        report["layers"] = layers
        report["trace_overhead"] = _overhead(e2e, stem[: -len("trace1")] + "trace0.json")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if run.tracer.enabled:
        run.tracer.write(stem + "-spans.json")
    for what in run.failures:
        print(f"perfbench: FAILED {what}", file=sys.stderr)
    print("perfbench report: " + json.dumps(report, default=str))
    spec = benchmark["per_layer" if layers is not None else "end_to_end"]
    print(json.dumps(_result_line(run, spec, layers if layers is not None else e2e)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
