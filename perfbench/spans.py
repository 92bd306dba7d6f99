"""Spans and Spark stage metrics for the traced benchmark run.

A span records a name, start, end, parent span and request id; spans
stay in memory and are written once when the run ends. In a traced run
every span also harvests the Spark stages that ran inside it from the
JVM status store (``sc._jsc.sc().statusStore()``). Stages are selected
by a stage-id window (stages created after the span opened), not by job
group: ``build_index`` submits jobs from thread pools, and those jobs
lose the group set on the calling thread. Harvesting per span keeps the
window short, so ``spark.ui.retainedStages`` evicts nothing before it
is read. A harvest only reads the store; it checks that it launched no
Spark job and raises if it did.
"""

from __future__ import annotations

import contextlib
import json
import time

# Stage fields summed over a span's stages: output name -> (StageData
# getter, scale to SI units).
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1.0),
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spill_bytes": (None, 1.0),  # memory + disk spill, summed below
    "input_records": ("inputRecords", 1.0),
    "input_bytes": ("inputBytes", 1.0),
    "output_bytes": ("outputBytes", 1.0),
}


class StageHarvester:
    """Reads finished stages from the live SparkContext's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def _drain(self) -> None:
        # stage-completed events reach the status store through the
        # listener bus asynchronously; wait until it has caught up
        self._sc.listenerBus().waitUntilEmpty()

    def last_ids(self) -> tuple[int, int]:
        """(highest job id, highest stage id) seen so far; -1 if none."""
        jobs = self._store.jobsList(None)
        n = jobs.size()
        if n == 0:
            return -1, -1
        last_job, last_stage = -1, -1
        # jobsList is ordered newest first; look at the newest few
        # (concurrently submitted jobs may finish out of order)
        for i in range(min(n, 8)):
            job = jobs.apply(i)
            last_job = max(last_job, job.jobId())
            ids = job.stageIds()
            for j in range(ids.size()):
                last_stage = max(last_stage, ids.apply(j))
        return last_job, last_stage

    def window(self, since: tuple[int, int]) -> dict:
        """Sum the metrics of every stage created after ``since``
        (a :meth:`last_ids` snapshot); also counts jobs and stages."""
        self._drain()
        job0, stage0 = since
        jobs_before = self.last_ids()[0]
        jobs = self._store.jobsList(None)
        n_jobs = 0
        stage_ids: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= job0:
                break
            n_jobs += 1
            ids = job.stageIds()
            for j in range(ids.size()):
                if ids.apply(j) > stage0:
                    stage_ids.add(ids.apply(j))
        out = {k: 0.0 for k in _STAGE_FIELDS}
        n_stages = 0
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never submitted (skipped)
                continue
            if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            n_stages += 1
            for name, (getter, scale) in _STAGE_FIELDS.items():
                if getter is None:
                    v = st.memoryBytesSpilled() + st.diskBytesSpilled()
                else:
                    v = getattr(st, getter)()
                out[name] += v * scale
        out["jobs"] = n_jobs
        out["stages"] = n_stages
        self._drain()
        if self.last_ids()[0] != jobs_before:
            raise RuntimeError("stage-metrics harvest launched a Spark job")
        return out


class Tracer:
    """Span recorder. A disabled tracer still times spans (the workloads
    read durations from them) but harvests nothing and keeps no spans."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._harvester = None
        self.harvest_s = 0.0
        self.request = None

    def attach(self, spark) -> None:
        if self.enabled:
            self._harvester = StageHarvester(spark)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block. Yields a dict that receives ``wall_s`` (and the
        stage metrics when harvested); the caller may add attributes.
        Harvests made by child spans are left out of ``wall_s``."""
        rec = {"name": name, "request": self.request, **attrs}
        since = None
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            self.spans.append(rec)
            self._stack.append(rec["id"])
            since = self._timed_harvest(self._harvester.last_ids)
        harvest0 = self.harvest_s
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0 - (self.harvest_s - harvest0)
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.enabled:
                self._stack.pop()
                rec["spark"] = self._timed_harvest(self._harvester.window, since)

    def _timed_harvest(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.harvest_s += time.perf_counter() - t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)
