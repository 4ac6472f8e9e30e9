"""Spans for the traced run, and Spark's status store read after each call.

A span is one dict: ``id``, ``parent`` (id or None), ``name``,
``kind`` (workload | setup | pass | key | build | run | phase | batch
| job | stage),
``start``/``end`` in seconds since the run began, and counters. Spans
stay in memory and are written as JSON lines when the run ends.

Job and stage spans come from the driver's ``AppStatusStore`` (the
store behind Spark's UI and REST API, which exists with the UI off),
read after the timed call returns: the jobs whose id is above the
highest id seen before the call belong to that call.
"""

from __future__ import annotations

import json
import time

MB = 1024 * 1024


class StatusReader:
    """Reads jobs and stages from the session's status store as JSON."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.last_job = self._max_job_id()

    def _jobs(self) -> list[dict]:
        # the store is fed asynchronously by the listener bus: drain it
        # so that the jobs of a call that just returned are all there
        self._bus.waitUntilEmpty(10_000)
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def _max_job_id(self) -> int:
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def new_jobs(self) -> list[dict]:
        """Jobs started since the previous call, oldest first, each with
        its stage records under ``"stages"``."""
        jobs = sorted((j for j in self._jobs() if j["jobId"] > self.last_job), key=lambda j: j["jobId"])
        if jobs:
            self.last_job = jobs[-1]["jobId"]
        for j in jobs:
            j["stages"] = [
                json.loads(self._mapper.writeValueAsString(self._store.lastStageAttempt(s)))
                for s in j["stageIds"]
            ]
        return jobs


def job_counters(jobs: list[dict], wall_s: float) -> dict[str, float]:
    """Counters of one call: jobs, stages run (skipped ones excluded),
    tasks, executor time, bytes, and ``driver_gap_s`` — the part of the
    call's wall time that no job covered."""
    stages = [s for j in jobs for s in j["stages"] if s["status"] != "SKIPPED"]
    spans = sorted(
        (j["submissionTime"], j["completionTime"])
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    )
    covered_ms, end = 0, None
    for a, b in spans:
        if end is None or a > end:
            covered_ms += b - a
            end = b
        elif b > end:
            covered_ms += b - end
            end = b
    total = lambda f: sum(s[f] for s in stages)  # noqa: E731
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "driver_gap_s": max(0.0, wall_s - covered_ms / 1000.0),
        "executor_run_s": total("executorRunTime") / 1000.0,
        "executor_cpu_s": total("executorCpuTime") / 1e9,
        "gc_s": total("jvmGcTime") / 1000.0,
        "input_mb": total("inputBytes") / MB,
        "shuffle_read_mb": total("shuffleReadBytes") / MB,
        "shuffle_write_mb": total("shuffleWriteBytes") / MB,
        "spill_mb": (total("memoryBytesSpilled") + total("diskBytesSpilled")) / MB,
    }


class Tracer:
    """Collects spans in memory; ``write`` dumps them as JSON lines."""

    def __init__(self, spark, t0: float) -> None:
        self.t0 = t0
        self.epoch_to_perf = time.perf_counter() - time.time()
        self.spans: list[dict] = []
        self.status = StatusReader(spark)

    def add(self, kind: str, name: str, parent: int | None, start: float, end: float, **counters) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "parent": parent,
                "kind": kind,
                "name": name,
                "start": start - self.t0,
                "end": end - self.t0,
                **counters,
            }
        )
        return sid

    def open(self, kind: str, name: str, parent: int | None) -> int:
        return self.add(kind, name, parent, time.perf_counter(), time.perf_counter())

    def close(self, sid: int, end: float | None = None) -> None:
        self.spans[sid]["end"] = (time.perf_counter() if end is None else end) - self.t0

    def call(self, kind: str, name: str, parent: int | None, start: float, end: float) -> dict[str, float]:
        """Record one timed call and the jobs and stages it ran; returns
        the call's counters. Runs after the timed region."""
        jobs = self.status.new_jobs()
        counters = job_counters(jobs, end - start)
        sid = self.add(kind, name, parent, start, end, **counters)
        for j in jobs:
            self.add_job(j, sid)
        return counters

    def at(self, epoch_ms) -> float:
        """A status-store time (epoch milliseconds) on the run's clock."""
        return epoch_ms / 1000.0 + self.epoch_to_perf

    def add_job(self, job: dict, parent: int | None) -> int:
        """A job span and a span for each stage it ran."""
        jid = self.add("job", f"job {job['jobId']}", parent, self.at(job["submissionTime"] or 0),
                       self.at(job["completionTime"] or 0))
        for s in job["stages"]:
            if s["status"] == "SKIPPED":
                continue
            self.add(
                "stage",
                f"stage {s['stageId']}",
                jid,
                self.at(s["submissionTime"] or 0),
                self.at(s["completionTime"] or 0),
                tasks=s["numCompleteTasks"],
                executor_run_s=s["executorRunTime"] / 1000.0,
                input_mb=s["inputBytes"] / MB,
                shuffle_read_mb=s["shuffleReadBytes"] / MB,
                shuffle_write_mb=s["shuffleWriteBytes"] / MB,
            )
        return jid

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
