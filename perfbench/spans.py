"""Spans recorded from outside the engine, plus Spark job/stage attribution.

A ``Tracer`` times calls into the engine's public functions. Each span sets
a Spark job group before the call and restores the enclosing span's group
after it, so every Spark job the call runs carries the span's id. After
each window ``harvest()`` reads the jobs and stages from Spark's status
store (kept in the driver even with the UI off) and attaches them to the
spans by group. Spans stay in memory; ``dump()`` writes them at the end.

The untraced run never builds a ``Tracer``: it sets no job groups and
never polls the status store. ``own_s`` counts the time a traced run spends
on tracing: the span bookkeeping, plus whatever callers run inside
``overhead()`` (harvests, extra Spark jobs run only to measure a layer).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self._stages: dict[int, dict] = {}
        self.jobs_by_group: dict[str, list[dict]] = {}
        self.own_s = 0.0
        self._own_depth = 0

    @contextmanager
    def overhead(self):
        """Count the wall of the block as tracing work (outermost block only)."""
        t = time.perf_counter()
        self._own_depth += 1
        try:
            yield
        finally:
            self._own_depth -= 1
            if not self._own_depth:
                self.own_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, **attrs):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = {"name": name, "id": len(self.spans),
             "parent": parent["id"] if parent else None, "attrs": attrs}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s['id']}", name)
        s["t0"] = time.time()
        if not self._own_depth:
            self.own_s += time.perf_counter() - t
        try:
            yield s
        finally:
            s["t1"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if not self._own_depth:
                self.own_s += time.perf_counter() - t

    def _mapper(self):
        m = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        m.registerModule(getattr(scala, "MODULE$"))
        return m

    def harvest(self) -> None:
        """Pull new finished jobs and stages out of the status store (it
        keeps only the newest 1000 of each, so call this often)."""
        mapper = self._mapper()
        ArrayList = self._jvm.java.util.ArrayList
        stages = json.loads(mapper.writeValueAsString(self._store.stageList(
            ArrayList(), False, False,
            self.sc._gateway.new_array(self._jvm.double, 0), ArrayList())))
        for st in stages:
            k = (st["stageId"], st["attemptId"])
            if st["status"] != "COMPLETE" or k in self._seen_stages:
                continue
            self._seen_stages.add(k)
            self._stages[st["stageId"]] = st
        jobs = json.loads(mapper.writeValueAsString(self._store.jobsList(None)))
        for j in jobs:
            if j["jobId"] in self._seen_jobs or j.get("completionTime") is None:
                continue
            self._seen_jobs.add(j["jobId"])
            job = {"id": j["jobId"], "callsite": j["name"],
                   "t0": _ms(j["submissionTime"]), "t1": _ms(j["completionTime"]),
                   "stages": [self._stages[i] for i in j["stageIds"] if i in self._stages]}
            self.jobs_by_group.setdefault(j.get("jobGroup") or "", []).append(job)

    def jobs(self, span: dict) -> list[dict]:
        """Jobs run under ``span`` or any span nested in it."""
        ids = {span["id"]}
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
        return [j for i in sorted(ids) for j in self.jobs_by_group.get(f"span-{i}", [])]

    def costs(self, span: dict) -> dict:
        """Spark cost of a span: job time covered inside its wall, the
        driver time no job covers, and stage counters."""
        jobs = self.jobs(span)
        stages = [st for j in jobs for st in j["stages"]]
        spark_s = _covered([(j["t0"], j["t1"]) for j in jobs], span["t0"], span["t1"])
        wall = span["t1"] - span["t0"]
        first = min((j["t0"] for j in jobs), default=span["t1"])
        return {
            "wall_s": wall,
            "spark_s": spark_s,
            "driver_s": wall - spark_s,
            "pre_job_s": max(0.0, min(first, span["t1"]) - span["t0"]),
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["numCompleteTasks"] for st in stages),
            "cpu_s": sum(st["executorCpuTime"] for st in stages) / 1e9,
            "gc_s": sum(st["jvmGcTime"] for st in stages) / 1e3,
            "input_mb": sum(st["inputBytes"] for st in stages) / 2**20,
            "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in stages) / 2**20,
        }

    def job_time(self, span: dict, callsite_part: str) -> float:
        """Covered job time under ``span`` whose Python callsite names
        ``callsite_part`` (the callsite's file names the engine module)."""
        jobs = [j for j in self.jobs(span) if callsite_part in j["callsite"]]
        return _covered([(j["t0"], j["t1"]) for j in jobs], span["t0"], span["t1"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs_by_group}, f, default=str)


def _ms(v: int) -> float:
    """Status-store timestamps arrive as epoch millis; return epoch seconds."""
    return v / 1e3
