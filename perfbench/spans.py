"""Spans around calls into the program, with per-span Spark counters.

Each span runs under its own Spark job group, so every job it causes —
including AQE's asynchronous broadcast and subquery jobs, which inherit
the group — is attributed to it by the driver's status store rather than
by call site. Spans are kept in memory and written out at the end of the
run. Counters are read from the status store after each pass.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

#: The full counter set, as suffixes on a span name.
COUNTERS = (
    "wall_s", "driver_s", "jobs", "stages", "stages_skipped", "tasks",
    "failed_tasks", "task_s", "task_cpu_s", "gc_s", "core_util",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
    "output_mb", "output_files",
)
MB = 1e6


class StatusStore:
    """Read-only view of the driver's status store, one JSON call per list."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$")
        self._mapper.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        # listener events are delivered asynchronously: wait for the
        # queue to empty so finished jobs carry their final figures
        self._sc.listenerBus().waitUntilEmpty()
        return self._json(self._sc.statusStore().jobsList(None))

    def stages(self) -> list[dict]:
        return self._json(self._sc.statusStore().stageList(
            None, False, False, self._no_quantiles, None))

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def persisted_mb(self) -> float:
        infos = self._sc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB


def dir_output(path: str | None) -> tuple[float, int]:
    """(MB, files) of the data files under a directory; Spark's marker
    files (names starting with '.' or '_') are not counted."""
    if not path or not os.path.isdir(path):
        return 0.0, 0
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size / MB, files


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory."""

    def __init__(self, spark, run_id: str, cores: int):
        self._jsc = spark.sparkContext._jsc
        self.store = StatusStore(spark)
        self.run_id = run_id
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: time spent in the tracer's own bookkeeping inside spans
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, out_dir: str | None = None):
        t_in = time.perf_counter()
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "out_dir": out_dir,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._jsc.setJobGroup(rec["id"], name, False)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["wall_s"] = t1 - t0
            rec["end"] = time.time()
            rec["output"] = dir_output(out_dir)
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._jsc.setJobGroup(parent["id"], parent["name"], False)
            else:
                self._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - t1

    def persisted_mb(self) -> float:
        """Storage held by persisted blocks now, charged as overhead."""
        t0 = time.perf_counter()
        mb = self.store.persisted_mb()
        self.overhead_s += time.perf_counter() - t0
        return mb

    def close_pass(self, pass_rec: dict, first_job: int) -> dict:
        """Attach Spark counters to every span of a finished pass and
        reconcile: the jobs of all its spans must add up to every job
        submitted since ``first_job``."""
        jobs = [j for j in self.store.jobs() if j["jobId"] > first_job]
        parents = {s["id"]: s["parent"] for s in self.spans}
        # a span's jobs are its own job group's plus its descendants'
        span_jobs: dict[str, list[dict]] = {s["id"]: [] for s in self.spans}
        attributed = 0
        for j in jobs:
            sid = j.get("jobGroup")
            attributed += sid in span_jobs
            while sid in span_jobs:
                span_jobs[sid].append(j)
                sid = parents[sid]
        # a stage reused by a later job shows there as skipped; charge
        # its run to the first job that lists it
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        ran: dict[int, list[dict]] = {}
        for s in self.store.stages():
            if s["status"] in ("COMPLETE", "FAILED", "ACTIVE") and s["stageId"] in owner:
                ran.setdefault(owner[s["stageId"]], []).append(s)
        for rec in self.spans:
            if "end" in rec and "counters" not in rec:
                rec["counters"] = self._counters(rec, span_jobs[rec["id"]], ran)
        return {"pass_jobs": len(jobs), "attributed_jobs": attributed,
                "unattributed_jobs": len(jobs) - attributed,
                "reconciles": attributed == len(jobs)}

    def _counters(self, rec: dict, jobs: list[dict], ran: dict) -> dict:
        stage_rows = [s for j in jobs for s in ran.get(j["jobId"], [])]
        tot = lambda key: sum(s[key] for s in stage_rows)  # noqa: E731
        busy = _covered(
            [(j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
             for j in jobs if j.get("completionTime")],
            rec["start"], rec["end"])
        wall = rec["wall_s"]
        task_s = tot("executorRunTime") / 1e3
        out_mb, out_files = rec["output"]
        return {
            "wall_s": wall,
            "driver_s": max(wall - busy, 0.0),
            "jobs": len(jobs),
            "stages": len(stage_rows),
            "stages_skipped": sum(j["numSkippedStages"] for j in jobs),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
                         for s in stage_rows),
            "failed_tasks": tot("numFailedTasks"),
            "task_s": task_s,
            "task_cpu_s": tot("executorCpuTime") / 1e9,
            "gc_s": tot("jvmGcTime") / 1e3,
            "core_util": task_s / (wall * self.cores) if wall > 0 else 0.0,
            "shuffle_write_mb": tot("shuffleWriteBytes") / MB,
            "shuffle_read_mb": tot("shuffleReadBytes") / MB,
            "spill_mb": tot("diskBytesSpilled") / MB,
            "input_mb": tot("inputBytes") / MB,
            "output_mb": out_mb,
            "output_files": out_files,
        }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
