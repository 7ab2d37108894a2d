"""Measurement from outside the program: spans, Spark job metrics, memory.

``Recorder.op`` brackets one call into a public layer function. Every
run times the call and counts it as attempted (and failed, if it
raised). A traced run also records a span (name, start, end, outcome)
and reads the executor metrics of every Spark job the call started from
Spark's own status store (the same store that backs the UI, present
with the UI disabled), grouped by job group: ``DedupePipeline.run``
tags its stages ``pipeline:<stage>``; around every other call the
recorder sets ``bench:<scope>``; a streaming query tags its jobs with
its run id. Jobs are attributed to the call by job id, so untagged jobs
(run stats, read-backs) still land in the call that started them.
Spans and counters stay in memory and are written once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

# executor metrics summed per job group, named as in the per-layer list;
# (getter on v1.StageData, scale to the reported unit)
STAGE_METRICS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "output_records": ("outputRecords", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


class SparkJobs:
    """Reads finished jobs and their stages from the driver's status
    store, newest first, stopping at the last job already read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.last_job = -1
        self.take_new()  # jobs before the first bracket are set-up

    def take_new(self) -> dict[str, dict]:
        """{job group: summed metrics + wall_s} over the jobs finished
        since the previous call. ``wall_s`` spans first submission to
        last completion of the group's jobs."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out: dict[str, dict] = {}
        newest = self.last_job
        for job in self._conv.asJava(store.jobsList(None)):
            jid = job.jobId()
            if jid <= self.last_job:
                break  # jobsList is newest first
            newest = max(newest, jid)
            g = job.jobGroup()
            group = g.get() if g.isDefined() else ""
            rec = out.setdefault(group, {k: 0.0 for k in STAGE_METRICS})
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                t0, t1 = sub.get().getTime(), end.get().getTime()
                rec["_t0"] = min(rec.get("_t0", t0), t0)
                rec["_t1"] = max(rec.get("_t1", t1), t1)
            rec["jobs"] = rec.get("jobs", 0) + 1
            for sid in self._conv.asJava(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage evicted from store
                    continue
                for key, (getter, scale) in STAGE_METRICS.items():
                    rec[key] += getattr(st, getter)() * scale
        self.last_job = newest
        for rec in out.values():
            rec["wall_s"] = (rec.pop("_t1", 0) - rec.pop("_t0", 0)) / 1e3
            rec["spill_bytes"] = (rec.pop("memory_spill_bytes")
                                  + rec.pop("disk_spill_bytes"))
        return out


class Recorder:
    """Times and counts operations; with ``traced`` also records spans
    and the Spark metrics of each operation's jobs."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self.traced = traced
        self._jobs = SparkJobs(spark) if traced else None

    @contextlib.contextmanager
    def op(self, scope: str, *, group: bool = True):
        """Bracket one call and count it into attempted / failed.
        ``group=False`` leaves job groups to the callee (the pipeline
        tags its own stages). Yields a dict that receives ``wall_s`` and,
        traced, ``jobs`` ({group: metrics})."""
        sc = self.spark.sparkContext
        rec: dict = {}
        if group:
            sc.setJobGroup(f"bench:{scope}", scope)
        span = {"name": scope, "start": time.time()}
        self.spans.append(span)
        t0 = time.perf_counter()
        ok = False
        try:
            yield rec
            ok = True
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            span["end"] = time.time()
            span["ok"] = ok
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.attempted += 1
            self.failed += 0 if ok else 1
            if self._jobs is not None:
                rec["jobs"] = self._jobs.take_new()
                span["jobs"] = rec["jobs"]

    def write(self, path: str, counters: dict) -> None:
        """Write spans and counters once, at exit."""
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": counters}, f)


def peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM, read from /proc) of every live descendant
    of this process: the driver JVM and the Python workers it forks."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
