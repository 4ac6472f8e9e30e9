#!/usr/bin/env python3
"""Run one benchmark workload against the package in the current directory.

    python3 perfbench/run.py --workload headline|stream \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It generates its input from the
seed, runs the workload for about ``--seconds`` of measurement,
checks the outputs, and prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and every timed call is also written as a span to
``.perfbench/spans/<workload>-seed<N>.jsonl``.

All on-disk state of the run (data, layouts, Spark scratch, stream
checkpoints) lives in a fresh directory under ``.perfbench/`` that is
removed when the run ends.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import datagen  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
SF = {"headline": 0.01, "stream": 0.1}


def box_state() -> dict:
    """cpus, load average and the CPU steal counter of the machine, and
    the time a fixed single-threaded loop takes on it right now."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    t = time.perf_counter()
    sum(i * i for i in range(500_000))
    loop_ms = (time.perf_counter() - t) * 1000.0
    return {
        "loop_ms": loop_ms,
        "cpus": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
        "total_ticks": sum(cpu),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def isolate(run_dir: str, cpus: int) -> None:
    """Point every directory the program and Spark write to at the run's
    own directory, and make Spark's Python workers import this checkout."""
    for var, sub in (
        ("SPARK_GRAFT_INDEX_DIR", "index"),
        ("SPARK_GRAFT_SCALE_DIR", "scale"),
        ("SPARK_LOCAL_DIRS", "local"),
        ("TMPDIR", "tmp"),
    ):
        os.environ[var] = os.path.join(run_dir, sub)
        os.makedirs(os.environ[var])
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM Spark starts (its launcher too) keeps its temp files in the
    # run directory and its performance counters in memory, not in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+PerfDisableSharedMem"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def percentile(values, q: int) -> float:
    """The q-th percentile (q in 1..99) by linear interpolation."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, args, run_dir: str, spec: dict) -> None:
        self.args = args
        #: metric name -> unit, from BENCHMARK.json; a workload that does
        #: not touch a layer reports 0 for its metrics
        self.e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        self.layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.run_dir = run_dir
        self.cpus = len(os.sched_getaffinity(0))
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(self.layer_units, 0)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.tracer = None
        self.root_span = None

    # -- session ---------------------------------------------------------
    def start_session(self, sf_dir: str | None) -> None:
        from samza_hello_samza_spark.session import TABLES, get_spark, load_table

        t = time.perf_counter()
        self.spark = get_spark("perfbench", self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        self.layer["session.start_s"] = t_session - t
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark, T0)
            self.root_span = self.tracer.add("workload", self.args.workload, None, T0, T0)
            self.tracer.add("setup", "session.get_spark", self.root_span, t, t_session)
        load_ms, load_jobs = [], []
        for name in TABLES if sf_dir else ():
            t = time.perf_counter()
            load_table(self.spark, sf_dir, name)
            t1 = time.perf_counter()
            load_ms.append((t1 - t) * 1000.0)
            if self.tracer:
                load_jobs.append(self.tracer.call("setup", f"session.load_table {name}", self.root_span, t, t1)["jobs"])
        if load_ms:
            self.layer["session.load_table_ms"] = statistics.median(load_ms)
        if load_jobs:
            self.layer["session.load_table_jobs"] = statistics.median(load_jobs)
        t = time.perf_counter()
        workloads.noop(self.spark.range(1))
        t1 = time.perf_counter()
        self.layer["session.trivial_job_ms"] = (t1 - t) * 1000.0
        if self.tracer:
            self.tracer.call("setup", "trivial noop job", self.root_span, t, t1)

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        return vm_hwm_mb(SparkContext._gateway.proc.pid) + vm_hwm_mb("self")

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM (and the Python workers it
        started) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- batch workloads -------------------------------------------------
    def batch(self, keys, sf_dir: str) -> None:
        from samza_hello_samza_spark.registry import all_oracles, all_queries

        queries = all_queries()
        # warm-up: whole passes, untimed; a key whose first call wrote an
        # on-disk layout counts towards sources.layout_build_s
        index_dir = os.environ["SPARK_GRAFT_INDEX_DIR"]
        warm_totals = []
        for n in range(workloads.WARM_PASSES):
            t_pass = time.perf_counter()
            for key in keys:
                before = _tree_size(index_dir)
                t = time.perf_counter()
                try:
                    workloads.noop(queries[key](self.spark, sf_dir))
                except Exception as exc:  # counted as failed in the measured passes
                    print(f"warm-up {key} raised {type(exc).__name__}", flush=True)
                t1 = time.perf_counter()
                if n == 0 and _tree_size(index_dir) != before:
                    self.layer["sources.layout_build_s"] += t1 - t
                if self.tracer:
                    self.tracer.call("setup", f"warm-up {n} {key}", self.root_span, t, t1)
            warm_totals.append(time.perf_counter() - t_pass)
        setup_end = time.perf_counter()
        self.e2e["setup_s"] = setup_end - T0

        times = workloads.run_passes(self.spark, queries, keys, sf_dir, self.args.seconds, self.tracer, self.root_span)
        self.attempted, self.failed = times.attempted, times.failed
        totals = times.key_totals()
        pass_s = times.pass_s()
        self.e2e.update(
            pass_s=pass_s,
            lat_p50_ms=geomean(statistics.median(v) * 1000.0 for v in totals.values()),
            lat_p90_ms=geomean(percentile(v, 90) * 1000.0 for v in totals.values()),
        )
        if self.tracer:
            self.layer.update(workloads.layer_metrics(times))
        print(f"warm-up pass s: {[round(t, 4) for t in warm_totals]}", flush=True)
        print(f"pass totals s: {[round(t, 4) for t in times.pass_totals]} pass_s={pass_s:.4f} "
              f"per-key median s: {json.dumps({k: round(v, 4) for k, v in times.key_medians().items()})}", flush=True)

        # untimed check pass
        from check import KeyChecker

        checker = KeyChecker(sf_dir, all_oracles(), datagen.TABLES)
        try:
            for key in keys:
                if not times.build[key]:
                    continue  # failed every time: counted in `failed`, nothing to check
                try:
                    df = queries[key](self.spark, sf_dir)
                    reason = checker.check(key, df.columns, df.collect())
                except Exception as exc:
                    reason = f"raised {type(exc).__name__}: {str(exc)[:200]}"
                if reason:
                    self.problems.append(f"{key}: {reason}")
        finally:
            checker.close()

    # -- stream workload -------------------------------------------------
    def stream(self) -> None:
        from stream import StreamRun, progress_metrics

        run = StreamRun(self.run_dir, SF["stream"], self.args.seed, self.args.seconds)
        run.warm_up(self.spark)
        if self.tracer:
            self.tracer.status.new_jobs()  # warm-up jobs are not measured
        run.start(self.spark)
        self.e2e["setup_s"] = run.t_started - T0
        try:
            drain = run.drain()
            fixed = run.fixed_rate()
        finally:
            run.stop()
        self.attempted = len(run.backlog) + len(run.fixed)
        self.failed = drain["failed"] + fixed["failed"]
        lat = sorted(fixed["lat_ms"])
        self.e2e.update(
            pass_s=drain["pass_s"],
            lat_p50_ms=percentile(lat, 50),
            lat_p90_ms=percentile(lat, 90),
        )
        print(f"drain {run.backlog_rows} rows in {drain['pass_s']:.4f} s "
              f"({run.backlog_rows / drain['pass_s']:.0f} rows/s); "
              f"{len(lat)} latencies, p50 {self.e2e['lat_p50_ms']:.1f} ms", flush=True)
        events = run.progress()
        if self.tracer:
            self.layer.update(progress_metrics(events, run.files_per_batch()))
            self.layer["gen.lag_ms"] = fixed["lag_ms"]
            self._stream_spans(run, events, drain, fixed)
        reason = run.check(events)
        if reason:
            self.problems.append(f"stream: {reason}")

    def _stream_spans(self, run, events, drain, fixed) -> None:
        """workload -> phase -> batch -> job -> stage; a batch is placed
        by its progress timestamp, a job under the batch it ran in."""
        from datetime import datetime

        tr = self.tracer
        d = tr.add("phase", "drain", self.root_span, run.t_start, drain["end"])
        f = tr.add("phase", "fixed-rate", self.root_span, fixed["t0"], time.perf_counter())
        batches = []
        for e in events:
            epoch = datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00")).timestamp()
            start = tr.at(epoch * 1000.0)
            end = start + e["durationMs"].get("triggerExecution", 0) / 1000.0
            sid = tr.add("batch", f"batch {e['batchId']}", d if start < drain["end"] else f, start, end,
                         rows=e.get("numInputRows", 0), **{f"{k}_ms": v for k, v in e["durationMs"].items()})
            batches.append((start, end, sid))
        for j in tr.status.new_jobs():
            t = tr.at(j["submissionTime"] or 0)
            tr.add_job(j, next((sid for a, b, sid in batches if a <= t <= b), self.root_span))

    # -- result ----------------------------------------------------------
    def metrics(self) -> dict:
        if self.args.trace:
            return {k: {"value": self.layer[k], "unit": u} for k, u in self.layer_units.items()}
        return {k: {"value": self.e2e[k], "unit": u} for k, u in self.e2e_units.items()}


def _tree_size(path: str) -> int:
    return sum(len(files) for _dirs, _sub, files in os.walk(path))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SF))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "samza_hello_samza_spark")):
        print(f"no samza_hello_samza_spark package under {ROOT}; run from a checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(STATE, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=STATE)
    run = Run(args, run_dir, spec)
    isolate(run_dir, run.cpus)
    box = {"start": box_state()}
    try:
        if args.workload == "stream":
            # the stream reads only the files it generates itself
            run.start_session(None)
            run.stream()
        else:
            os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir = os.path.join(run_dir, "data")
            datagen.write_tables(sf_dir, SF[args.workload], args.seed)
            run.start_session(sf_dir)
            run.batch(workloads.HEADLINE, sf_dir)
        run.layer["mem.peak_rss_mb"] = run.peak_rss_mb()
        if run.tracer:
            run.tracer.close(run.root_span)
            os.makedirs(os.path.join(STATE, "spans"), exist_ok=True)
            path = os.path.join(STATE, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            run.tracer.write(path)
            print(f"spans: {path} ({len(run.tracer.spans)} spans)", flush=True)
    finally:
        run.stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)
    box["end"] = box_state()
    box["steal_share"] = (box["end"]["steal_ticks"] - box["start"]["steal_ticks"]) / max(
        1, box["end"]["total_ticks"] - box["start"]["total_ticks"]
    )
    print("box: " + json.dumps(box), flush=True)
    for p in run.problems:
        print(f"CHECK FAILED {p}", flush=True)
    print(
        json.dumps(
            {
                "correct": not run.problems,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": run.metrics(),
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
