"""Tracing for the per-layer run: spans around calls into the engine's
public functions, a streaming-progress listener and Spark's event log;
and the memory sampler every run uses.

Spans are recorded from the benchmark's own process only: the wrapped
names are rebound on the importing modules while a ``Tracer`` is
installed and restored when it is removed, so the program's code is
never edited. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trigger: int | None
    thread: int

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans (name, start, end, parent, trigger id) and call
    results at the wrapped layer boundaries."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.results: dict[str, list] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn, trigger_arg: int | None = None, keep_result=False):
        """Wrap ``fn`` so each call records a span. ``trigger_arg`` is the
        position of a batch-id argument that starts a trigger; nested
        calls inherit the trigger id of their parent span."""
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            if trigger_arg is not None and len(args) > trigger_arg:
                trigger = args[trigger_arg]
            elif parent is not None:
                trigger = tracer.spans[parent].trigger
            else:
                trigger = None
            span = Span(name, time.perf_counter(), 0.0, parent, trigger, threading.get_ident())
            with tracer._lock:
                tracer.spans.append(span)
                idx = len(tracer.spans) - 1
            stack.append(idx)
            try:
                out = fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.perf_counter()
            if keep_result:
                with tracer._lock:
                    tracer.results.setdefault(name, []).append(out)
            return out

        return traced

    def patch(self, owner, attr: str, name: str, **kw) -> None:
        """Rebind ``owner.attr`` to a traced wrapper until ``remove()``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, **kw))

    def install(self) -> "Tracer":
        from rigatoni_spark.sinks import writers
        from rigatoni_spark.streaming import materialized, pipeline

        p = pipeline
        self.patch(p.Pipeline, "_foreach_batch", "pipeline.batch", trigger_arg=2)
        self.patch(p, "read_change_events_stream", "sources.plan")
        self.patch(p, "match_pipeline", "filters.match")
        self.patch(p, "dedup_by_key", "dedup.call")
        self.patch(p, "write_batch", "writers.write_batch", keep_result=True)
        self.patch(writers, "generate_key", "key_gen.call")
        m = materialized
        self.patch(m, "read_change_events_stream", "sources.plan")
        self.patch(m.MaterializedView, "_merge", "view.merge", trigger_arg=2)
        self.patch(m.MaterializedView, "snapshot", "view.snapshot")
        return self

    def remove(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s.ms for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "trigger": s.trigger,
                            "thread": s.thread,
                        }
                    )
                    + "\n"
                )


class ProgressLog(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` as a dict."""

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        doc = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(doc)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def data_triggers(self) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p.get("numInputRows", 0) > 0]


def eventlog_conf(directory: str) -> dict[str, str]:
    """Session conf for an uncompressed rolling (``eventlog_v2_*``) log."""
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": directory,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
    }


def read_eventlog(directory: str) -> list[dict]:
    """All events of the (single) application log under ``directory``,
    in order. Call after the SparkContext stopped, so the log is
    flushed."""
    events: list[dict] = []
    for app in sorted(glob.glob(os.path.join(directory, "eventlog_v2_*"))):
        files = glob.glob(os.path.join(app, "events_*"))
        files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
        for f in files:
            with open(f) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


_STATEFUL_MARKERS = ("FlatMapGroupsInPandasWithState", "StateStoreRDD")


def _query_id(job_start: dict) -> str | None:
    return (job_start.get("Properties") or {}).get("sql.streaming.queryId")


def eventlog_totals(
    events: list[dict], t0_ms: float, t1_ms: float, query_ids: set[str] | None = None
) -> dict:
    """Job, stage and task totals of the streaming queries' jobs submitted
    in ``[t0_ms, t1_ms]`` (epoch milliseconds), of every query or only of
    ``query_ids``; a client's own reads are left out. Stages that run a
    per-key state fold are also summed separately as ``fold_run_ms``."""
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "output_bytes": 0,
        "fold_run_ms": 0.0,
    }
    stages: set[int] = set()
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        qid = _query_id(e)
        if qid is not None and (query_ids is None or qid in query_ids):
            if t0_ms <= e.get("Submission Time", 0) <= t1_ms:
                out["jobs"] += 1
                stages.update(e.get("Stage IDs", ()))
    stateful: set[int] = set()
    for e in events:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        if info["Stage ID"] not in stages or "Submission Time" not in info:
            continue  # skipped stages never ran
        out["stages"] += 1
        names = " ".join(r.get("Name", "") + " " + r.get("Callsite", "") for r in info.get("RDD Info", ()))
        if any(m in names for m in _STATEFUL_MARKERS):
            stateful.add(info["Stage ID"])
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        out["tasks"] += 1
        if e["Task Info"].get("Failed"):
            out["failed_tasks"] += 1
        tm = e.get("Task Metrics") or {}
        run = tm.get("Executor Run Time", 0)
        out["run_ms"] += run
        out["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        out["gc_ms"] += tm.get("JVM GC Time", 0)
        out["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        if e["Stage ID"] in stateful:
            out["fold_run_ms"] += run
    return out


class MemorySampler:
    """Samples the proportional set size (PSS: shared pages split between
    the processes that map them, so forked Python workers are not
    counted twice) of a process tree (the JVM and the Python workers it
    forks), and keeps the peak of the sum. One sample walks the page
    tables of a JVM with a pre-touched heap and costs tens of ms of CPU,
    so it runs every 2 s, not more often, beside the measured work."""

    def __init__(self, root_pid: int, interval_s: float = 2.0) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def tree(self) -> list[int]:
        """``root_pid`` and all its live descendants."""
        kids: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        pids = self.tree()
        total = 0
        for p in pids:
            kb = self._pss_kb(p)
            total += kb
            self.peak_by_pid[p] = max(self.peak_by_pid.get(p, 0), kb)
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
