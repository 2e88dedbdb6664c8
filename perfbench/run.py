"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints every end-to-end
metric; ``--trace 1`` runs the window twice, untraced then traced, and
prints every per-layer metric, including the tracing overhead (traced
minus untraced). The traced window runs second, on a warmer JVM, so the
overhead includes that drift; the event log is on for both windows, so
its cost shows only against a ``--trace 0`` run.

Working files live under ``.perfbench_work/`` in the current directory
and are removed at exit, except the trace run's spans
(``.perfbench_work/spans-<workload>-<seed>.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _confine(work: str) -> dict[str, str]:
    """Keep every file the run writes inside ``work``: Python's and the
    JVM's temp dirs, Spark's local dirs. Returns the session conf."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the session default (16g) is larger than a small box's RAM
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        # a pre-touched fixed-size heap keeps the JVM's resident set from
        # following G1's run-to-run heap sizing, so peak_rss_mb moves with
        # the memory the program holds outside the heap and in its workers
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_jvm(spark, pids: set[int]) -> None:
    """Stop the session, then the JVM, and wait for ``pids`` (the JVM and
    the Python workers it has forked) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall through to kill
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in sorted(pids - {os.getpid()}):
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _cpu_times() -> list[int]:
    """The host's aggregate CPU counters (``/proc/stat``), or [] off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples."""
    if not before or not after:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import rigatoni_spark  # noqa: F401
    except ImportError as err:
        print(f"perfbench: the engine is not importable from {ROOT}: {err}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    parent = os.path.join(os.getcwd(), ".perfbench_work")
    _remove_stale(parent)
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _remove_stale(parent: str) -> None:
    """Remove work dirs left by runs that were killed (their pid is gone)."""
    for entry in os.listdir(parent) if os.path.isdir(parent) else ():
        pid = entry.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import metrics, tracing
    from perfbench.workloads import SETUP_ROUNDS, WORKLOADS

    conf = _confine(work)
    eventlog = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(tracing.eventlog_conf(eventlog))

    from rigatoni_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=os.cpu_count() or 4, extra_conf=conf)
    session_s = time.monotonic() - t0
    _log(f"session {session_s:.1f}s")
    from pyspark import SparkContext

    memory = tracing.MemorySampler(SparkContext._gateway.proc.pid).start()
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds)
        rounds = []
        for r in range(SETUP_ROUNDS):
            t = time.monotonic()
            wl.generate()
            wl.warm_up(r)
            rounds.append(time.monotonic() - t)
            _log(f"set-up round {r} {rounds[-1]:.1f}s")
        setup_s = session_s + statistics.median(rounds)
        cpu0 = _cpu_times()
        if not args.trace:
            win = wl.window("measure")
            values = win.end_to_end()
            values["setup_s"] = setup_s
            result_win = win
        else:
            plain = wl.window("untraced")
            tracer = tracing.Tracer().install()
            listener = tracing.ProgressLog()
            spark.streams.addListener(listener)
            try:
                traced = wl.window("traced")
                time.sleep(1.0)  # progress events reach the listener asynchronously
            finally:
                spark.streams.removeListener(listener)
                tracer.remove()
            result_win = traced
        steal = _steal_share(cpu0, _cpu_times())
        _log(f"measured {time.monotonic() - t0 - session_s - sum(rounds):.1f}s, host steal {steal:.1%}")
        _log(f"latencies (ms): {[round(x) for x in result_win.latencies_ms]}")
        _log(f"reads (ms): {[round(x) for x in result_win.reads_ms]}")
    finally:
        memory.stop()
        _stop_jvm(spark, set(memory.tree()))

    by_pid = sorted(memory.peak_by_pid.items(), key=lambda kv: -kv[1])
    _log(f"peak PSS {memory.peak_mb:.0f} MB; per process (MB): {[(p, kb // 1024) for p, kb in by_pid[:8]]}")
    if not args.trace:
        values["peak_rss_mb"] = memory.peak_mb
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
    else:
        progress = listener.data_triggers()
        values = layer_values(wl, traced, tracer, progress, tracing.read_eventlog(eventlog), plain)
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
        units = {n: u for n, u, _, _, _ in metrics.PER_LAYER}
    wins = [result_win] if not args.trace else [plain, traced]
    attempted = sum(w.attempted for w in wins)
    failed = sum(w.failed for w in wins)
    out = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(out))
    return 0


def layer_values(wl, win, tracer, progress, events, plain) -> dict[str, float]:
    """Every per-layer metric of a traced window (0 where the layer does
    not run on this workload)."""
    from perfbench.tracing import eventlog_totals
    from perfbench.workloads import percentile

    ev = eventlog_totals(events, win.t0_ms, win.t1_ms)
    view_ids = {p["id"] for p in progress if p.get("name") == "materialized_view"}
    view = eventlog_totals(events, win.t0_ms, win.t1_ms, view_ids)
    view_trig = max(1, sum(p.get("name") == "materialized_view" for p in progress))

    def med(key):
        return percentile([p["durationMs"].get(key, 0) for p in progress], 50)

    trig = max(1, len(progress))
    out = {
        "engine.triggers": len(progress),
        "engine.trigger_ms": med("triggerExecution"),
        "engine.latest_offset_ms": med("latestOffset"),
        "engine.query_planning_ms": med("queryPlanning"),
        "engine.add_batch_ms": med("addBatch"),
        "engine.wal_commit_ms": med("walCommit"),
        "engine.commit_offsets_ms": med("commitOffsets"),
        "spark.jobs": ev["jobs"] / trig,
        "spark.stages": ev["stages"] / trig,
        "spark.tasks": ev["tasks"] / trig,
        "spark.executor_run_ms": ev["run_ms"] / trig,
        "spark.executor_cpu_ms": ev["cpu_ms"] / trig,
        "spark.noncpu_run_ms": (ev["run_ms"] - ev["cpu_ms"]) / trig,
        "spark.gc_ms": ev["gc_ms"] / trig,
        "spark.shuffle_write_bytes": ev["shuffle_write_bytes"] / trig,
        "spark.shuffle_read_bytes": ev["shuffle_read_bytes"] / trig,
        "spark.output_bytes": ev["output_bytes"] / trig,
        "spark.failed_tasks": ev["failed_tasks"],
        "materialize.fold_run_ms": view["fold_run_ms"] / view_trig,
        "view.merge_run_ms": (view["run_ms"] - view["fold_run_ms"]) / view_trig,
    }
    out.update(wl.layers(win, tracer, progress))
    e2e_traced, e2e_plain = win.end_to_end(), plain.end_to_end()
    out["trace.latency_p50_ms"] = e2e_traced["latency_p50_ms"]
    out["trace.events_per_s"] = e2e_traced["events_per_s"]
    out["trace.overhead_latency_p50_ms"] = e2e_traced["latency_p50_ms"] - e2e_plain["latency_p50_ms"]
    out["trace.overhead_events_per_s"] = e2e_plain["events_per_s"] - e2e_traced["events_per_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
