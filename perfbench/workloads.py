"""The benchmark's workloads. Each one drives the engine's public API on
inputs the seeded generator made, runs a fixed amount of work sized
from ``--seconds`` (so every run, and the parent and child commits, do
the same work), and checks the program's outputs.

Why each workload exists, what it stresses and what it bypasses:
``perfbench/metrics.py`` (WORKLOADS).
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, gen

LIVE_LIMIT_MS = 3000.0  # live_tail: a file later than this misses the limit
LOOP_LIMIT_MS = 10000.0  # view_upsert: a trigger slower than this misses the limit
SETUP_ROUNDS = 3


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


def wilson_upper(k: int, n: int, z: float = 1.96) -> float:
    """Upper end of the Wilson score interval for k successes in n."""
    if n <= 0:
        return 1.0
    p = k / n
    denom = 1.0 + z * z / n
    centre = p + z * z / (2 * n)
    rad = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    return min(1.0, (centre + rad) / denom)


@dataclass
class Window:
    """What one measured window did."""

    latencies_ms: list[float] = field(default_factory=list)
    reads_ms: list[float] = field(default_factory=list)
    events: int = 0
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    late: int = 0
    t0_ms: float = 0.0  # epoch bounds, to cut the event log
    t1_ms: float = 0.0
    facts: dict = field(default_factory=dict)  # per-layer inputs

    def end_to_end(self) -> dict[str, float]:
        return {
            "events_per_s": self.events / self.wall_s if self.wall_s > 0 else 0.0,
            "latency_p50_ms": percentile(self.latencies_ms, 50),
            "latency_p90_ms": percentile(self.latencies_ms, 90),
            "over_limit_share": wilson_upper(self.late, self.attempted),
            "read_p50_ms": percentile(self.reads_ms, 50),
        }


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, seconds: int) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds

    def fresh(self, tag: str) -> str:
        path = os.path.join(self.work_dir, tag)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def generate(self) -> None:
        """Make the inputs from the seed (part of set-up)."""
        raise NotImplementedError

    def warm_up(self, round_no: int) -> None:
        """One short untimed pass over the same code paths."""
        raise NotImplementedError

    def window(self, tag: str) -> Window:
        """The measured work, with its correctness check."""
        raise NotImplementedError

    def layers(self, win: Window, tracer, progress: list[dict]) -> dict[str, float]:
        """Workload-specific per-layer metrics of a traced window."""
        return {}


def _wait_idle(query, timeout_s: float = 30.0) -> None:
    """Block until a freshly started query has finished its first
    (empty) trigger and waits for data."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        st = query.status
        if st["isDataAvailable"] is False and not st["isTriggerActive"] and query.lastProgress:
            return
        time.sleep(0.02)


class LiveTail(Workload):
    """Open loop: one single-threaded sender lands a 500-event file every
    1.5 s onto a running Pipeline at the reference's production config,
    batch 500 / 50 ms timeout, default staged JSON sink, synchronous
    progress. Every event has its own key and passes the $match, so
    dedup runs but drops nothing and commits map exactly onto files.
    Latency is timed from each file's due time.

    The interval is longer than one trigger, so each file is its own
    micro-batch and the latency is one trigger's fixed cost plus the
    wait for the next trigger; at shorter intervals triggers pair files
    up and the latency splits into two modes, which makes its median
    jump between them from run to run. Before the paced files, the
    window's query takes the warm-up files closed-loop (each as soon as
    the one before it has committed), untimed."""

    name = "live_tail"
    INTERVAL_S = 1.5
    EVENTS_PER_FILE = 500
    WARM_FILES = 5
    READS = 10
    WARM_READS = 8  # untimed reads before the timed ones
    MATCH = [{"$match": {"operationType": {"$in": ["insert", "update", "replace"]}}}]

    def generate(self) -> None:
        self.n_files = max(2, int(round(self.seconds / self.INTERVAL_S)))
        self.spec = gen.EventSpec(
            n_files=self.WARM_FILES + self.n_files,
            events_per_file=self.EVENTS_PER_FILE,
            keys=None,
            op_mix={"signup": 1, "purchase": 1, "click": 2, "view": 1},
            payload_bytes=64,
            interval_s=self.INTERVAL_S,
        )
        tables = gen.event_tables(self.seed, self.spec)
        self.blobs = [gen.parquet_bytes(t) for t in tables]
        self.expected = [checks.expected_envelopes(t) for t in tables]

    def warm_up(self, round_no: int) -> None:
        self._run(f"warm{round_no}", paced=0, reads=self.WARM_READS)

    def window(self, tag: str) -> Window:
        return self._run(tag, paced=self.n_files, reads=self.READS)

    def _run(self, tag: str, paced: int, reads: int) -> Window:
        """Land the warm-up files closed-loop, then ``paced`` files on the
        arrival schedule; the window is the paced files."""
        from rigatoni_spark.config import ChangeStreamConfig, PipelineConfig, S3SinkConfig
        from rigatoni_spark.sinks.reader import read_sink_output
        from rigatoni_spark.streaming.pipeline import Pipeline

        base = self.fresh(tag)
        src, ck = os.path.join(base, "src"), os.path.join(base, "ck")
        os.makedirs(src)
        sink = S3SinkConfig(bucket=os.path.join(base, "sink"))
        cfg = PipelineConfig(
            batch_size=500,
            batch_timeout_secs=0.05,
            dedup_by_key=True,
            stream=ChangeStreamConfig(pipeline=self.MATCH),
        )
        per = self.EVENTS_PER_FILE
        pre = self.WARM_FILES
        landed = pre + paced
        win = Window(attempted=max(1, paced))
        pipe = Pipeline(self.spark, cfg, sink, src, ck).start()
        try:
            _wait_idle(pipe._queries[0])
            deadline = time.monotonic() + 60 + landed * self.INTERVAL_S
            for i in range(pre):
                gen.land(self.blobs[i], src, f"f{i:05d}.parquet")
                while pipe.stats.events_processed < (i + 1) * per and time.monotonic() < deadline:
                    time.sleep(0.005)
            win.t0_ms = time.time() * 1000
            t0 = time.monotonic() + 0.05
            due, late_send = [], []
            for i in range(paced):
                d = t0 + i * self.INTERVAL_S
                pause = d - time.monotonic()
                if pause > 0:
                    time.sleep(pause)
                late_send.append(max(0.0, time.monotonic() - d))
                gen.land(self.blobs[pre + i], src, f"f{pre + i:05d}.parquet")
                due.append(d)
            while pipe.stats.events_processed < landed * per and time.monotonic() < deadline:
                time.sleep(0.01)
            win.t1_ms = time.time() * 1000
        finally:
            stats = pipe.stop()
        commits = list(pipe.batch_commits)
        # file i has committed once the events committed so far cover it
        commit_at = [None] * landed
        cum, j = 0, 0
        for t, n, _proc in commits:
            cum += n
            while j < landed and cum >= (j + 1) * per:
                commit_at[j] = t
                j += 1
        for i in range(paced):
            at = commit_at[pre + i]
            if at is None:
                win.late += 1
                continue
            lat = (at - due[i]) * 1000.0
            win.latencies_ms.append(lat)
            win.late += lat > LIVE_LIMIT_MS
        done = [t for t in commit_at[pre:] if t is not None]
        win.events = len(done) * per
        win.wall_s = (max(done) - t0) if done else 0.0
        untimed = self.WARM_READS if paced else 0
        for k in range(untimed + reads):
            r0 = time.monotonic()
            read_sink_output(self.spark, sink).count()
            if k >= untimed:
                win.reads_ms.append((time.monotonic() - r0) * 1000.0)
        rows = checks.read_json_sink(sink.base_uri)
        # every landed file, warm-up files too, must be in the sink once
        failed = checks.exactly_once_failures(self.expected[:landed], rows)
        failed += sum(t is None for t in commit_at)
        win.failed = min(win.attempted, failed)
        win.facts = {
            "stats": stats,
            "commits": commits[-paced:] if paced else [],
            "sink": sink.base_uri,
            "ck": ck,
            "rows_in": landed * per,
            "sender_late_ms": max(late_send) * 1000.0 if late_send else 0.0,
        }
        return win

    def layers(self, win, tracer, progress):
        stats = win.facts["stats"]
        objects = [k for keys in tracer.results.get("writers.write_batch", []) for k in keys]
        size = sum(os.path.getsize(os.path.join(win.facts["sink"], k)) for k in objects)
        return {
            "sources.plan_ms": percentile(tracer.durations("sources.plan"), 50),
            "sources.input_rows": sum(p["numInputRows"] for p in progress),
            "sources.files_per_trigger": files_per_trigger(win.facts["ck"]),
            "filters.match_ms": percentile(tracer.durations("filters.match"), 50),
            "dedup.call_ms": percentile(tracer.durations("dedup.call"), 50),
            "dedup.survivor_ratio": stats.events_processed / win.facts["rows_in"],
            "writers.write_batch_ms": percentile(tracer.durations("writers.write_batch"), 50),
            "writers.calls": len(tracer.durations("writers.write_batch")),
            "writers.objects": len(objects),
            "writers.bytes": size,
            "writers.rows_per_object": stats.events_processed / len(objects) if objects else 0.0,
            "key_gen.calls": len(tracer.durations("key_gen.call")),
            "retry.retries": stats.retries,
            "retry.write_errors": stats.write_errors,
            "retry.dlq_batches": stats.dlq_batches,
            "pipeline.batch_proc_ms": percentile([c[2] * 1000.0 for c in win.facts["commits"]], 50),
            "pipeline.batches": stats.batches_written,
            "pipeline.events": stats.events_processed,
            "sender.max_late_ms": win.facts["sender_late_ms"],
        }


def files_per_trigger(checkpoint: str) -> float:
    """Median files per batch from a file source's checkpoint log."""
    per_batch: dict[int, set[str]] = {}
    for f in glob.glob(os.path.join(checkpoint, "**", "sources", "0", "*"), recursive=True):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    per_batch.setdefault(e["batchId"], set()).add(e["path"])
    return percentile([len(v) for v in per_batch.values()], 50)


SNAPSHOT = ["collection", "document_key", "operation", "full_document", "version"]


class ViewUpsert(Workload):
    """Closed loop: one client lands an update-heavy events file for a
    ``MaterializedView`` over a fixed hot key set, calls
    ``process_all_available()``, then reads ``snapshot().count()``, and
    repeats, so reads sit beside writes.

    Before timing starts the hot keys are inserted and the priming
    update files are folded and read, untimed, so every timed trigger
    folds into a full-size state, merges with an existing snapshot and
    reads on a warm path (a new query's first update triggers run
    slower for a few triggers)."""

    name = "view_upsert"
    KEYS = 500
    EVENTS_PER_FILE = 100
    TRIGGERS_PER_S = 0.4
    READS_PER_TRIGGER = 2
    PRIME_TRIGGERS = 4

    def generate(self) -> None:
        self.triggers = max(3, int(round(self.seconds * self.TRIGGERS_PER_S)))
        fill = gen.EventSpec(n_files=1, events_per_file=self.KEYS, keys=None, op_mix={"signup": 1})
        upd = gen.EventSpec(
            n_files=self.PRIME_TRIGGERS + self.triggers,
            events_per_file=self.EVENTS_PER_FILE,
            keys=self.KEYS,
            op_mix={"signup": 1, "click": 6, "view": 2, "error": 1},
            first_id=self.KEYS,
        )
        tables = gen.event_tables(self.seed, fill) + gen.event_tables(self.seed + 1, upd)
        self.blobs = [gen.parquet_bytes(t) for t in tables]

    def warm_up(self, round_no: int) -> None:
        self._run(f"warm{round_no}", 0, 0, check=False)

    def window(self, tag: str) -> Window:
        return self._run(tag, self.PRIME_TRIGGERS, self.triggers, check=True)

    def _run(self, tag: str, primed: int, triggers: int, check: bool) -> Window:
        """Insert the hot keys, fold ``primed`` update files untimed, then
        time ``triggers`` more."""
        from rigatoni_spark.streaming.materialized import MaterializedView

        base = self.fresh(tag)
        src = os.path.join(base, "events")
        os.makedirs(src)
        gen.land(self.blobs[0], src, "f00000.parquet")
        view = MaterializedView(
            self.spark, src, os.path.join(base, "snap"), os.path.join(base, "ck")
        ).start(trigger_secs=0.05)
        win = Window(attempted=max(1, triggers))
        try:
            view.process_all_available()
            for k in range(1, 1 + primed):
                gen.land(self.blobs[k], src, f"f{k:05d}.parquet")
                view.process_all_available()
                view.snapshot().count()
            win.t0_ms = time.time() * 1000
            start = time.monotonic()
            rows = 0
            for i in range(1 + primed, 1 + primed + triggers):
                t = time.monotonic()
                gen.land(self.blobs[i], src, f"f{i:05d}.parquet")
                try:
                    view.process_all_available()
                except Exception:  # noqa: BLE001 - counted as a failed trigger
                    win.failed += 1
                    win.late += 1
                lat = (time.monotonic() - t) * 1000.0
                win.latencies_ms.append(lat)
                win.late += lat > LOOP_LIMIT_MS
                for _ in range(self.READS_PER_TRIGGER):
                    r = time.monotonic()
                    rows = view.snapshot().count()
                    win.reads_ms.append((time.monotonic() - r) * 1000.0)
            win.wall_s = time.monotonic() - start
            win.t1_ms = time.time() * 1000
            win.events = triggers * self.EVENTS_PER_FILE
            snap = view.snapshot()
            win.facts = {
                "snapshot_rows": rows,
                "snapshot_bytes": sum(os.path.getsize(f.replace("file:", "")) for f in snap.inputFiles()),
            }
            if check:
                got = [tuple(r) for r in snap.select(*SNAPSHOT).collect()]
                if checks.row_set_failures(got, self._batch_twin(src)):
                    win.failed = triggers
        finally:
            view.stop()
        win.failed = min(win.failed, triggers)
        return win

    def _batch_twin(self, src: str) -> list[tuple]:
        """The batch twin of the view: ``materialize`` over the whole feed."""
        from rigatoni_spark.operators.materialize import materialize
        from rigatoni_spark.sources.change_events import as_change_events
        from rigatoni_spark.tables import normalize_ts

        ce = as_change_events(normalize_ts(self.spark.read.parquet(src), "ts"))
        return [tuple(r) for r in materialize(ce).select(*SNAPSHOT).collect()]

    def layers(self, win, tracer, progress):
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        last = ops[-1] if ops else {}
        return {
            "sources.plan_ms": percentile(tracer.durations("sources.plan"), 50),
            "sources.input_rows": sum(p["numInputRows"] for p in progress),
            "state.rows_total": last.get("numRowsTotal", 0),
            "state.rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
            "state.memory_bytes": last.get("memoryUsedBytes", 0),
            "state.commit_ms": percentile([o.get("commitTimeMs", 0) for o in ops], 50),
            "state.updates_ms": percentile([o.get("allUpdatesTimeMs", 0) for o in ops], 50),
            "view.snapshot_rows": win.facts["snapshot_rows"],
            "view.snapshot_bytes": win.facts["snapshot_bytes"],
        }


WORKLOADS = {w.name: w for w in (LiveTail, ViewUpsert)}
