"""The stream workload: an open-loop file replay into ``tumbling_counts_job``.

Input: the ``events`` table, repeated with shifted ``event_id`` and
``ts`` until there are enough rows, in event-time order except for a
seeded jitter of at most ``JITTER_S`` (half the job's 10-minute
watermark, so no row is ever late). The rows are cut into parquet
files in set-up; a file "arrives" when it is renamed into the source
directory, which is atomic.

- Drain phase: ``BACKLOG_FILES`` files are in the source directory
  before the query starts. ``pass_s`` is the time from the start call
  to the end of the micro-batch that includes the last of them.
- Fixed-rate phase: one file of ``TICK_ROWS`` rows every ``TICK_S``
  seconds, each due on a fixed schedule that does not wait for the
  query (open loop). A file's latency runs from when it was due to
  the end of the first micro-batch that includes it, which is when the
  benchmark's ``foreachBatch`` sink has applied the batch.

Which file went into which batch is read from the query's own logs in
the checkpoint; when a batch ended is taken in the sink.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

BACKLOG_FILES = 20
BACKLOG_ROWS = 5000
TICK_S = 0.1
TICK_ROWS = 100
JITTER_S = 300
WINDOW_S = 300
WARMUP_FILES = 2
WAIT_S = 60.0


def make_rows(sf: float, seed: int, n_rows: int) -> pa.Table:
    """``n_rows`` events: the table repeated with shifted ids and times,
    then reordered by a jitter of at most ``JITTER_S`` seconds."""
    n = datagen.row_counts(sf)["events"]
    users = datagen.row_counts(sf)["customer"] // 10
    base = datagen.make_events(np.random.default_rng([seed, 100]), n, users)
    reps = -(-n_rows // n)
    ids = base.column("event_id").to_numpy()
    ts = base.column("ts").to_numpy()
    span = np.timedelta64(datagen.EVENTS_SPAN_US, "us")
    parts = []
    for k in range(reps):
        parts.append(
            base.set_column(0, "event_id", pa.array(ids + k * n)).set_column(1, "ts", pa.array(ts + k * span))
        )
    rows = pa.concat_tables(parts).slice(0, n_rows)
    rng = np.random.default_rng([seed, 101])
    key = rows.column("ts").to_numpy().astype(np.int64) + rng.integers(0, JITTER_S * 1_000_000, n_rows)
    return rows.take(pa.array(np.argsort(key, kind="stable")))


class Sink:
    """The benchmark's serving table: the latest count per (window,
    user), and the time each micro-batch became visible in it."""

    def __init__(self) -> None:
        self.counts: dict[tuple[int, int], int] = {}
        self.visible: dict[int, float] = {}
        self._lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        rows = df.collect()
        with self._lock:
            for r in rows:
                self.counts[(r["window_start_epoch"], r["user_id"])] = r["views"]
            self.visible[batch_id] = time.perf_counter()

    def seen(self, batch_id: int) -> float | None:
        with self._lock:
            return self.visible.get(batch_id)


def _log_entries(directory: str):
    """(name, lines after the version line) of each file of one of
    Spark's metadata logs; compacted files hold earlier entries too."""
    for path in glob.glob(os.path.join(directory, "*")):
        name = os.path.basename(path)
        if name.startswith("."):
            continue
        try:
            with open(path) as fh:
                yield name, fh.read().splitlines()[1:]
        except FileNotFoundError:  # being replaced by Spark right now
            continue


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it.

    The file source numbers its own log only when it finds new files;
    the query's offset log records, for each micro-batch, the source log
    entry it read up to. The first micro-batch whose offset reaches a
    file's entry is the one that read the file."""
    source: dict[str, int] = {}
    for _name, lines in _log_entries(os.path.join(checkpoint, "sources", "0")):
        for line in filter(str.strip, lines):
            rec = json.loads(line)
            name = os.path.basename(rec["path"])
            source[name] = min(rec["batchId"], source.get(name, rec["batchId"]))
    first_batch: dict[int, int] = {}
    for name, lines in _log_entries(os.path.join(checkpoint, "offsets")):
        if name.isdigit() and len(lines) >= 2:
            log_offset = json.loads(lines[1])["logOffset"]
            first_batch[log_offset] = min(int(name), first_batch.get(log_offset, int(name)))
    out = {}
    for name, entry in source.items():
        reached = [b for off, b in first_batch.items() if off >= entry]
        if reached:
            out[name] = min(reached)
    return out


def wait_visible(checkpoint: str, sink: Sink, names, timeout: float) -> dict[str, float]:
    """Wait until every named file is in a batch the sink has applied;
    returns file name -> visible time for the files that made it."""
    deadline = time.perf_counter() + timeout
    while True:
        log = file_batches(checkpoint)
        done = {n: sink.seen(log[n]) for n in names if n in log}
        done = {n: t for n, t in done.items() if t is not None}
        if len(done) == len(names) or time.perf_counter() > deadline:
            return done
        time.sleep(0.02)


def dropped_rows(events: list[dict]) -> int:
    return sum(op.get("numRowsDroppedByWatermark", 0) for e in events for op in e.get("stateOperators", []))


def progress_metrics(events: list[dict], files_per_batch: list[int]) -> dict[str, float]:
    ran = [e for e in events if "addBatch" in e.get("durationMs", {})]
    med = lambda f: statistics.median(e["durationMs"].get(f, 0) for e in ran) if ran else 0.0  # noqa: E731
    ops = [op for e in ran for op in e.get("stateOperators", [])]
    return {
        "streaming.batches": len(ran),
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.get_batch_ms": med("getBatch"),
        "streaming.latest_offset_ms": med("latestOffset"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.state_rows": max((op["numRowsTotal"] for op in ops), default=0),
        "streaming.state_mb": max((op["memoryUsedBytes"] for op in ops), default=0) / (1024 * 1024),
        "streaming.state_commit_ms": statistics.median(op["commitTimeMs"] for op in ops) if ops else 0.0,
        "streaming.dropped_late_rows": dropped_rows(events),
        "streaming.backlog_files_max": max(files_per_batch, default=0),
    }


class StreamRun:
    """One run of the stream workload inside ``run_dir``."""

    def __init__(self, run_dir: str, sf: float, seed: int, seconds: float) -> None:
        self.run_dir = run_dir
        self.n_fixed = max(1, int(round(seconds / TICK_S)))
        self.staging = os.path.join(run_dir, "stream_staging")
        self.source = os.path.join(run_dir, "stream_source")
        self.checkpoint = os.path.join(run_dir, "stream_checkpoint")
        for d in (self.staging, self.source):
            os.makedirs(d)
        sizes = [BACKLOG_ROWS] * BACKLOG_FILES + [TICK_ROWS] * self.n_fixed
        rows = make_rows(sf, seed, WARMUP_FILES * TICK_ROWS + sum(sizes))
        self.rows_total = sum(sizes)
        # warm-up files come first in event time, into their own source
        self.warm_names = self._write(rows.slice(0, WARMUP_FILES * TICK_ROWS), [TICK_ROWS] * WARMUP_FILES, "warm")
        names = self._write(rows.slice(WARMUP_FILES * TICK_ROWS), sizes, "part")
        self.backlog, self.fixed = names[:BACKLOG_FILES], names[BACKLOG_FILES:]
        self.backlog_rows = BACKLOG_FILES * BACKLOG_ROWS

    def _write(self, rows: pa.Table, sizes, prefix: str) -> list[str]:
        names, off = [], 0
        for i, size in enumerate(sizes):
            name = f"{prefix}-{i:05d}.parquet"
            pq.write_table(rows.slice(off, size), os.path.join(self.staging, name))
            names.append(name)
            off += size
        return names

    def _arrive(self, name: str, source: str | None = None) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(source or self.source, name))

    def _query(self, spark, source: str, checkpoint: str, sink, trigger_once: bool = False):
        from samza_hello_samza_spark.session import normalize_nanos_ts
        from samza_hello_samza_spark.streaming.jobs import tumbling_counts_job

        schema = spark.read.parquet(os.path.join(source, os.listdir(source)[0])).schema
        events = normalize_nanos_ts(spark.readStream.schema(schema).parquet(source), "ts")
        writer = (
            tumbling_counts_job(events)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def warm_up(self, spark) -> None:
        """The same job over two small files in its own directories, so
        that code generation and class loading are done before timing."""
        src = os.path.join(self.run_dir, "stream_warm_source")
        os.makedirs(src)
        for n in self.warm_names:
            self._arrive(n, src)
        q = self._query(spark, src, os.path.join(self.run_dir, "stream_warm_checkpoint"), Sink(), True)
        q.awaitTermination(WAIT_S)
        q.stop()

    def start(self, spark):
        for n in self.backlog:
            self._arrive(n)
        self.sink = Sink()
        self.t_start = time.perf_counter()
        self.query = self._query(spark, self.source, self.checkpoint, self.sink)
        self.t_started = time.perf_counter()

    def drain(self) -> dict:
        """A backlog file not visible within ``WAIT_S`` counts as failed,
        and the drain as ending when the wait gave up."""
        vis = wait_visible(self.checkpoint, self.sink, self.backlog, WAIT_S)
        failed = len(self.backlog) - len(vis)
        end = time.perf_counter() if failed else max(vis.values())
        return {"pass_s": end - self.t_started, "end": end, "failed": failed}

    def fixed_rate(self) -> dict:
        t0 = time.perf_counter()
        due, lag = {}, []
        for i, name in enumerate(self.fixed):
            due[name] = t0 + (i + 1) * TICK_S
            delay = due[name] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            self._arrive(name)
            lag.append(time.perf_counter() - due[name])
        vis = wait_visible(self.checkpoint, self.sink, self.fixed, WAIT_S)
        # a file never seen counts as failed, and at least as late as the wait
        end = time.perf_counter()
        lat = [(vis.get(n, end) - due[n]) * 1000.0 for n in self.fixed]
        return {"lat_ms": lat, "failed": len(self.fixed) - len(vis), "lag_ms": max(lag) * 1000.0, "t0": t0}

    def stop(self) -> None:
        self.query.stop()

    def files_per_batch(self) -> list[int]:
        log = file_batches(self.checkpoint)
        fixed = set(self.fixed)
        per: dict[int, int] = {}
        for name, b in log.items():
            if name in fixed:
                per[b] = per.get(b, 0) + 1
        return list(per.values())

    def progress(self) -> list[dict]:
        """The query's ``StreamingQueryProgress`` records, one per trigger
        (the session keeps the last 100; a run has about 25)."""
        return [json.loads(p.json) for p in self.query.recentProgress]

    def check(self, events: list[dict]) -> str | None:
        """Final counts per (window, user) against DuckDB's GROUP BY over
        the files the query read, and no row dropped in any of the
        progress ``events``."""
        import duckdb

        con = duckdb.connect()
        try:
            want = {
                (int(w), int(u)): int(c)
                for w, u, c in con.execute(
                    f"SELECT epoch_us(ts) // {WINDOW_S * 1_000_000} * {WINDOW_S}, user_id, count(*) "
                    f"FROM read_parquet('{self.source}/*.parquet') GROUP BY ALL"
                ).fetchall()
            }
        finally:
            con.close()
        got = self.sink.counts
        if sum(want.values()) != self.rows_total:
            return f"source holds {sum(want.values())} rows, generated {self.rows_total}"
        if sum(got.values()) != self.rows_total:
            return f"counts sum to {sum(got.values())}, generated {self.rows_total}"
        if got != want:
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))[:2]
            return f"{len(bad)}+ (window, user) counts differ, e.g. {[(k, got.get(k), want.get(k)) for k in bad]}"
        dropped = dropped_rows(events)
        if dropped:
            return f"{dropped} rows dropped by the watermark"
        return None
