"""The benchmark's workloads and metrics, and the layer -> metric
prediction table.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/metrics.py > BENCHMARK.json``); the benchmark's
tests check that the two agree. The prediction table lives here because
the JSON file has a fixed schema with no room for it.

The older catalog sweep (``bench.py``), the probes under ``tools/`` and
the ``BENCH_*.json`` history are left as they are; this benchmark does
not read or replace them.
"""

from __future__ import annotations

import json
import re

RUN_SECONDS = 12
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# name -> (why, layers it stresses, layers it bypasses)
WORKLOADS = {
    "live_tail": (
        "open loop, a 500-event file every 1.5 s onto a running Pipeline at batch 500 / "
        "50 ms, staged JSON sink: per-trigger fixed cost (listing, planning, dispatch, "
        "commit, WAL) dominates",
        "engine trigger phases, sources, filters, dedup, writers, key_gen, pipeline",
        "state store, materialize, materialized view, admission, minhash",
    ),
    "view_upsert": (
        "closed loop, one client lands an update-heavy file on a fixed hot key set, drains "
        "the MaterializedView, reads the snapshot: the applyInPandasWithState fold and the "
        "snapshot merge dominate",
        "state store, applyInPandasWithState fold (Python worker), snapshot merge, "
        "snapshot read",
        "sink writers, key_gen, dedup, admission, minhash",
    ),
}

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("events_per_s", "1/s", "higher", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.25),
    ("latency_p90_ms", "ms", "lower", 0.25),
    ("over_limit_share", "share", "lower", 0.25),
    ("read_p50_ms", "ms", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

# What each end-to-end metric means on each workload. Every run prints
# every metric, so each is defined for every workload.
DEFINITIONS = {
    "events_per_s": "live_tail: events committed / (last commit - first due); "
    "view_upsert: events / wall time of the client loop",
    "latency_p50_ms": "live_tail: file due time -> sink commit (8 files a run, after 5 "
    "untimed warm-up files on the same query); view_upsert: file land -> "
    "process_all_available() return (5 triggers a run, after 4 untimed priming triggers)",
    "latency_p90_ms": "as latency_p50_ms, over the same samples",
    "over_limit_share": "upper end of the 95% Wilson interval of the share of "
    "operations late or failed (live_tail: a file later than 3,000 ms or never "
    "committed; view_upsert: a trigger over 10,000 ms or raised); never 0, so a run "
    "with no late operation reads as its sample size's resolution",
    "read_p50_ms": "a consumer's read of the workload's output: live_tail "
    "read_sink_output().count() (10 timed reads after 8 untimed ones, after the window); view_upsert "
    "snapshot().count() (2 reads after each trigger)",
    "setup_s": "session start + median of three set-up rounds (input generation, "
    "query start and a short untimed pass each)",
    "peak_rss_mb": "peak of the summed proportional set size (PSS) of the JVM and its "
    "Python workers, sampled every 2 s; the 2g heap is pre-touched so the figure "
    "moves with memory held outside the heap and in the workers",
}

# name, unit, better, layer (module), prediction: what it should move
PER_LAYER = [
    ("engine.triggers", "count", "lower", "session (Spark engine)", "latency_*: live_tail"),
    ("engine.trigger_ms", "ms", "lower", "session (Spark engine)", "latency_*: live_tail"),
    ("engine.latest_offset_ms", "ms", "lower", "session (Spark engine)", "latency_*: live_tail"),
    ("engine.query_planning_ms", "ms", "lower", "session (Spark engine)", "latency_*: live_tail"),
    ("engine.add_batch_ms", "ms", "lower", "session (Spark engine)", "latency_*: live_tail"),
    ("engine.wal_commit_ms", "ms", "lower", "session (Spark engine)", "latency_*: live_tail"),
    ("engine.commit_offsets_ms", "ms", "lower", "session (Spark engine)", "latency_*: live_tail"),
    ("spark.jobs", "count", "lower", "session (event log), per trigger", "latency_*: live_tail"),
    ("spark.stages", "count", "lower", "session (event log), per trigger", "latency_*: live_tail"),
    ("spark.tasks", "count", "lower", "session (event log), per trigger", "latency_*: live_tail"),
    ("spark.executor_run_ms", "ms", "lower", "session (event log), per trigger", "events_per_s: view_upsert"),
    ("spark.executor_cpu_ms", "ms", "lower", "session (event log), per trigger", "events_per_s: view_upsert"),
    ("spark.noncpu_run_ms", "ms", "lower", "session (event log), per trigger; run minus CPU = Python-worker time", "events_per_s: view_upsert"),
    ("spark.gc_ms", "ms", "lower", "session (event log), per trigger", "events_per_s: view_upsert"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "session (event log), per trigger", "events_per_s: view_upsert"),
    ("spark.shuffle_read_bytes", "bytes", "lower", "session (event log), per trigger", "events_per_s: view_upsert"),
    ("spark.output_bytes", "bytes", "lower", "session (event log), per trigger", "events_per_s: view_upsert"),
    ("spark.failed_tasks", "count", "lower", "session (event log)", "failed operations: all"),
    ("sources.plan_ms", "ms", "lower", "sources.change_events (read_change_events_stream call)", "latency_*: live_tail; setup_s"),
    ("sources.input_rows", "count", "lower", "sources.change_events", "events_per_s: all (work done)"),
    ("sources.files_per_trigger", "count", "higher", "sources.change_events", "latency_*: live_tail"),
    ("filters.match_ms", "ms", "lower", "operators.filters (match_pipeline call)", "latency_*: live_tail"),
    ("dedup.call_ms", "ms", "lower", "operators.dedup (dedup_by_key call)", "latency_*: live_tail"),
    ("dedup.survivor_ratio", "ratio", "higher", "operators.dedup (rows out / rows in)", "none: fixed by the feed (1.0 on unique keys)"),
    ("writers.write_batch_ms", "ms", "lower", "sinks.writers (write_batch call)", "latency_*: live_tail"),
    ("writers.calls", "count", "lower", "sinks.writers", "latency_*: live_tail"),
    ("writers.objects", "count", "lower", "sinks.writers", "latency_*: live_tail (fewer objects, less rename walk)"),
    ("writers.bytes", "bytes", "lower", "sinks.writers", "latency_*: live_tail"),
    ("writers.rows_per_object", "count", "higher", "sinks.writers", "latency_*: live_tail"),
    ("key_gen.calls", "count", "lower", "sinks.key_gen", "failed and retried operations"),
    ("retry.retries", "count", "lower", "sinks.retry (PipelineStats)", "failed and retried operations"),
    ("retry.write_errors", "count", "lower", "sinks.retry (PipelineStats)", "failed and retried operations"),
    ("retry.dlq_batches", "count", "lower", "sinks.retry (PipelineStats)", "failed and retried operations"),
    ("pipeline.batch_proc_ms", "ms", "lower", "streaming.pipeline (batch_commits)", "latency_*: live_tail"),
    ("pipeline.batches", "count", "lower", "streaming.pipeline", "latency_*: live_tail"),
    ("pipeline.events", "count", "higher", "streaming.pipeline", "events_per_s: live_tail"),
    ("sender.max_late_ms", "ms", "lower", "benchmark sender (how late the open loop ran)", "none: must stay near 0"),
    ("state.rows_total", "count", "lower", "operators.materialize state store (stateOperators)", "events_per_s: view_upsert"),
    ("state.rows_updated", "count", "lower", "operators.materialize state store (stateOperators)", "events_per_s: view_upsert"),
    ("state.memory_bytes", "bytes", "lower", "operators.materialize state store (stateOperators)", "peak_rss_mb: view_upsert"),
    ("state.commit_ms", "ms", "lower", "operators.materialize state store (stateOperators)", "events_per_s, latency_p50_ms: view_upsert"),
    ("state.updates_ms", "ms", "lower", "operators.materialize state store (stateOperators)", "events_per_s, latency_p50_ms: view_upsert"),
    ("materialize.fold_run_ms", "ms", "lower", "operators.materialize (event-log run time of the stateful stage)", "events_per_s: view_upsert"),
    ("view.merge_run_ms", "ms", "lower", "streaming.materialized (event-log run time of the merge stages)", "events_per_s: view_upsert"),
    ("view.snapshot_rows", "count", "lower", "streaming.materialized", "read_p50_ms: view_upsert"),
    ("view.snapshot_bytes", "bytes", "lower", "streaming.materialized", "read_p50_ms, events_per_s: view_upsert"),
    ("trace.latency_p50_ms", "ms", "lower", "tracing (traced latency_p50_ms)", "tracing overhead"),
    ("trace.events_per_s", "1/s", "higher", "tracing (traced events_per_s)", "tracing overhead"),
    ("trace.overhead_latency_p50_ms", "ms", "lower", "tracing (traced - untraced latency_p50_ms)", "tracing overhead"),
    ("trace.overhead_events_per_s", "1/s", "lower", "tracing (untraced - traced events_per_s)", "tracing overhead"),
]


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w[0]} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
