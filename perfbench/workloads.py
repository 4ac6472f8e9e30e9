"""The batch workload: its key list and the pass loop that times it.

One operation is one registry key run the way a user runs it: the
query function builds the DataFrame (``build``), then a ``noop`` write
executes it (``run``). A pass runs every key of the workload once, one
after another (a closed loop with one client). Set-up runs
``WARM_PASSES`` untimed passes first: the first builds the on-disk
layouts, and the later ones let the JVM compile Spark's planner, whose
pass time still falls steeply over the first few passes. A run then
makes at least ``MIN_PASSES`` timed passes and starts another only
while the passes so far predict it will end within the measuring time;
each key's time is its median over the timed passes. Nothing is
cleared between passes: cached blocks and driver garbage that one
pass leaves behind are carried into the next, as they would be for a
user running queries back to back.
"""

from __future__ import annotations

import statistics
import time

#: Keys whose run is dominated by building DataFrames on the driver and
#: by the fixed cost per Spark job; scan and shuffle volume are small.
#: One key or two per query module, with the three keys that have no
#: DuckDB oracle and are checked by their own properties.
HEADLINE = (
    "q1_pricing_summary",
    "session_window",
    "events_funnel",
    "ann_lsh_topk",
    "ann_pq_topk",
    "rolling_active_users_approx",
    "mv_event_type_stats",
)

WARM_PASSES = 4
MIN_PASSES = 4


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def persisted(spark) -> tuple[int, float]:
    """Persisted RDDs (cached DataFrames among them) held by the
    session, and their size in MB in memory and on disk."""
    sc = spark.sparkContext._jsc.sc()
    size = sum(info.memSize() + info.diskSize() for info in sc.getRDDStorageInfo())
    return sc.getPersistentRDDs().size(), size / (1024 * 1024)


class KeyTimes:
    """Build and run seconds of every key over the measured passes."""

    def __init__(self, keys) -> None:
        self.keys = tuple(keys)
        self.build: dict[str, list[float]] = {k: [] for k in keys}
        self.run: dict[str, list[float]] = {k: [] for k in keys}
        self.counters: dict[str, list[dict]] = {k: [] for k in keys}
        #: timed seconds of each pass, over the keys that did not fail
        self.pass_totals: list[float] = []
        #: (persisted RDDs, MB) after each pass, read in traced runs only
        self.persisted: list[tuple[int, float]] = []
        self.failed = 0
        self.attempted = 0

    def key_totals(self) -> dict[str, list[float]]:
        """Build + run seconds of each key that did not fail, per pass."""
        return {k: [b + r for b, r in zip(self.build[k], self.run[k])] for k in self.keys if self.build[k]}

    def key_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.key_totals().items()}

    def pass_s(self) -> float:
        return sum(self.key_medians().values())


def run_key(spark, fn, sf_dir: str, times: KeyTimes, key: str, tracer=None, parent=None) -> float:
    """One operation: build, then run; returns its timed seconds, 0 if it
    failed. Tracing, when on, reads the status store after each of the
    two timed calls, outside both."""
    times.attempted += 1
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        if tracer is not None:
            kid = tracer.add("key", key, parent, t0, t0)
            c_build = tracer.call("build", key, kid, t0, t1)
        t2 = time.perf_counter()
        noop(df)
        t3 = time.perf_counter()
    except Exception as exc:  # one broken key must not end the run
        times.failed += 1
        print(f"FAILED {key}: {type(exc).__name__}: {str(exc)[:300]}", flush=True)
        return 0.0
    times.build[key].append(t1 - t0)
    times.run[key].append(t3 - t2)
    if tracer is not None:
        c_run = tracer.call("run", key, kid, t2, t3)
        tracer.close(kid, t3)
        times.counters[key].append({"build_jobs": c_build["jobs"], **c_run})
    return (t1 - t0) + (t3 - t2)


def run_passes(spark, queries, keys, sf_dir: str, seconds: float, tracer=None, wl_span=None) -> KeyTimes:
    times = KeyTimes(keys)
    start = time.perf_counter()
    n = 0
    while n < MIN_PASSES or (time.perf_counter() - start) * (n + 1) / n <= seconds:
        pid = tracer.open("pass", f"pass {n}", wl_span) if tracer else None
        times.pass_totals.append(sum(run_key(spark, queries[k], sf_dir, times, k, tracer, pid) for k in keys))
        if tracer:
            tracer.close(pid)
            times.persisted.append(persisted(spark))
        n += 1
    return times


def layer_metrics(times: KeyTimes) -> dict[str, float]:
    """Per-pass plans/exec numbers: each key's median over the passes,
    summed over the keys (the same reduction as ``pass_s``)."""
    med = lambda per_key: sum(statistics.median(v) for v in per_key.values() if v)  # noqa: E731
    out = {"plans.build_s": med(times.build), "exec.run_s": med(times.run)}
    fields = {
        "plans.build_jobs": "build_jobs",
        "exec.jobs": "jobs",
        "exec.stages": "stages",
        "exec.tasks": "tasks",
        "exec.driver_gap_s": "driver_gap_s",
        "exec.executor_run_s": "executor_run_s",
        "exec.executor_cpu_s": "executor_cpu_s",
        "exec.gc_s": "gc_s",
        "exec.input_mb": "input_mb",
        "exec.shuffle_read_mb": "shuffle_read_mb",
        "exec.shuffle_write_mb": "shuffle_write_mb",
        "exec.spill_mb": "spill_mb",
    }
    for name, field in fields.items():
        out[name] = med({k: [c[field] for c in cs] for k, cs in times.counters.items()})
    out["exec.persisted_rdds"], out["exec.persisted_mb"] = times.persisted[-1]
    return out
