"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 8 --trace 0

Run from the repository root. The run is hermetic: it gets a private
work directory under ``.perfbench_work/`` (also its TMPDIR,
SPARK_LOCAL_DIRS and SPARK_CONF_DIR), stops Spark and its JVM, and
deletes the directory at exit.

Protocol: start the session (``session.get_spark``), build the
workload's seeded inputs BUILDS times into fresh directories (set-up
is reported as a median), run an untimed warm-up of the same ops,
then run ops back to back for ``--seconds`` (and collect the ops the
program has already run by then, such as the remaining epochs of a
streaming query start), then check the outputs. The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and per-call job groups and reports the per-layer
metrics instead. ``trace.op_ms_p50`` is the op median under tracing;
its ratio to ``op_ms_p50`` of an untraced run of the same seed is the
tracing overhead (``spread.py --overhead`` reports it). Progress,
per-op latencies and check failures go to stderr.

Seeds 1-80 were used while the benchmark was tuned and proven. A
claimed gain should also be shown on the held-out seeds 101-110.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"
BUILDS = 3

END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "rows_per_s": "rows/s",
    "store_bytes_per_row": "B/row",
}

PER_LAYER = {
    "session.start_s": "s",
    "rates_pipeline.build_ms_p50": "ms",
    "warehouse.append_ms_p50": "ms",
    "warehouse.upsert_ms_p50": "ms",
    "warehouse.files_per_op": "count",
    "warehouse.read_ms_p50": "ms",
    "page.history_ms_p50": "ms",
    "page.point_ms_p50": "ms",
    "page.delta_ms_p50": "ms",
    "page.current_ms_p50": "ms",
    "catalyst.analysis_ms_per_op": "ms",
    "catalyst.optimization_ms_per_op": "ms",
    "catalyst.planning_ms_per_op": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.dispatch_ms_per_op": "ms",
    "spark.executor_run_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.shuffle_read_bytes_per_op": "B",
    "spark.task_max_over_p50": "ratio",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.jobs_per_epoch": "count",
    "dedup_index.build_s": "s",
    "dedup_index.files_per_epoch": "count",
    "dedup.admit_ratio": "ratio",
    "media.arrow_bytes_sent_per_op": "B",
    "media.arrow_bytes_received_per_op": "B",
    "warmup.first_over_last_third": "ratio",
    "trace.op_ms_p50": "ms",
}


def java_pids() -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/comm") as fh:
                    if fh.read().strip() == "java":
                        pids.append(int(entry))
            except OSError:
                pass
    return sorted(pids)


def hermetic_env(work: Path, trace: bool) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work``, and write the spark-defaults.conf the session reads."""
    for sub in ("tmp", "local", "conf", "eventlog", "data"):
        (work / sub).mkdir(parents=True)
    conf = ["spark.ui.showConsoleProgress false"]
    if trace:
        conf += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{work / 'eventlog'}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    (work / "conf" / "spark-defaults.conf").write_text("\n".join(conf) + "\n")
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update(
        TZ="UTC",
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_CONF_DIR=str(work / "conf"),
        # The JVM's own temp files and perf-counter file would go to /tmp.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(ncpu),
        # get_spark defaults to 48g; the benchmark's data is far smaller.
        SPARK_DRIVER_MEMORY="2g",
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), str(HERE), os.environ.get("PYTHONPATH")])),
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: Path) -> dict:
    t_start = time.perf_counter()
    from currency_etl_pipeline_spark.session import get_spark

    from spans import Spans
    from workloads import WORKLOADS

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_start
        spans = Spans(spark, trace=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, spans, args.seed, args.scale)

        build_s = []
        for k in range(BUILDS):
            spans.op = f"build{k}"
            d = work / "data" / f"build{k}"
            t0 = time.perf_counter()
            wl.build(str(d))
            build_s.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(work / "data" / f"build{k - 1}", ignore_errors=True)

        t0 = time.perf_counter()
        for w in range(wl.warmup_ops):
            spans.op = f"warm{w}"
            spans.call("op", wl.op, -1 - w)
        warmup_s = time.perf_counter() - t0

        lat, walls, rows, failed = [], [], 0, 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds or wl.pending_ops():
            i = len(lat)
            spans.op = f"op{i}"
            a, wall0 = time.perf_counter(), time.time()
            try:
                rows += spans.call("op", wl.op, i)
                reported = wl.op_ms(i)
            except Exception:  # noqa: BLE001 — a failed op is counted, and the run goes on
                traceback.print_exc()
                failed += 1
                reported = None
            b = time.perf_counter()
            walls.append((wall0 * 1000.0, time.time() * 1000.0))
            lat.append(reported if reported is not None else (b - a) * 1000.0)
        timed_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        problems = wl.check()
        check_s = time.perf_counter() - t0
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        n = len(lat)
        third = max(1, n // 3)
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": n,
            "op_ms_p50": statistics.median(lat),
            "first_third_p50": statistics.median(lat[:third]),
            "last_third_p50": statistics.median(lat[-third:]),
            "session_s": session_s,
            "build_s": build_s,
            "warmup_s": warmup_s,
            "timed_s": timed_s,
            "check_s": check_s,
            "op_ms": [round(x, 1) for x in lat],
        }
        print(json.dumps({"summary": summary}), file=sys.stderr)
        metrics = {
            "setup_s": session_s + statistics.median(build_s) + warmup_s,
            "op_ms_p50": statistics.median(lat),
            "rows_per_s": rows / timed_s,
            "store_bytes_per_row": wl.store_bytes_per_row(),
        }
        if args.trace:
            metrics = layer_metrics(args, work, wl, spans, lat, walls, session_s, summary)
        return {"correct": not problems and failed == 0, "attempted": n, "failed": failed, "metrics": metrics}
    finally:
        stop_spark(spark)


def layer_metrics(args, work, wl, spans, lat, walls, session_s, summary) -> dict:
    import eventlog

    n = len(lat)
    timed = {f"op{i}" for i in range(n)}
    logs = list((work / "eventlog").iterdir())
    log = eventlog.read(str(logs[0]))
    batch_ops = wl.batch_ops()
    by_op = eventlog.attribute(log, batch_ops)
    by_batch = eventlog.jobs_by_batch(log)
    per_op = [eventlog.op_layers(log, by_op.get(i, [])) for i in range(n)]
    lo, hi = walls[0][0], walls[-1][1]
    all_jobs = [j for i in range(n) for j in by_op.get(i, [])]
    exact = per_op[: wl.exact_ops]

    def mean(key, ops=per_op):
        return sum(p[key] for p in ops) / len(ops)

    span_ms = spans.durations_ms(timed)

    def span_p50(layer):
        v = span_ms.get(layer)
        return statistics.median(v) if v else 0.0

    build_spans = [t1 - t0 for op, layer, t0, t1 in spans.records if layer == "dedup_index.build" and op.startswith("build")]
    m = {k: 0.0 for k in PER_LAYER}
    m.update(
        {
            "session.start_s": session_s,
            "rates_pipeline.build_ms_p50": span_p50("rates_pipeline.build"),
            "warehouse.append_ms_p50": span_p50("warehouse.append"),
            "warehouse.upsert_ms_p50": span_p50("warehouse.upsert"),
            "warehouse.read_ms_p50": span_p50("warehouse.read"),
            "page.history_ms_p50": span_p50("page.history"),
            "page.point_ms_p50": span_p50("page.point"),
            "page.delta_ms_p50": span_p50("page.delta"),
            "page.current_ms_p50": span_p50("page.current"),
            "spark.jobs_per_op": mean("jobs", exact),
            "spark.stages_per_op": mean("stages", exact),
            "spark.tasks_per_op": mean("tasks", exact),
            "spark.dispatch_ms_per_op": eventlog.dispatch_ms(log, all_jobs, lo, hi) / n,
            "spark.executor_run_ms_per_op": mean("executor_run_ms"),
            "spark.executor_cpu_ms_per_op": mean("executor_cpu_ms"),
            "spark.gc_ms_per_op": mean("gc_ms"),
            "spark.shuffle_write_bytes_per_op": mean("shuffle_write_bytes", exact),
            "spark.shuffle_read_bytes_per_op": mean("shuffle_read_bytes", exact),
            "spark.task_max_over_p50": statistics.median(p["task_max_over_p50"] for p in per_op),
            "media.arrow_bytes_sent_per_op": mean("py_sent_bytes", exact),
            "media.arrow_bytes_received_per_op": mean("py_received_bytes", exact),
            "dedup_index.build_s": statistics.median(build_spans) / 1000.0 if build_spans else 0.0,
            "warmup.first_over_last_third": summary["first_third_p50"] / summary["last_third_p50"],
            "trace.op_ms_p50": statistics.median(lat),
        }
    )
    first = [b for b, i in batch_ops.items() if i < wl.exact_ops]
    if first:
        m["stream.jobs_per_epoch"] = sum(len(by_batch.get(b, [])) for b in first) / len(first)
    m.update(wl.layer_metrics(n))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest", "dedup_stream", "media"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a tiny one)")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import currency_etl_pipeline_spark  # noqa: F401 — fail before any set-up if the package is missing

    print(f"java processes at start: {java_pids()}", file=sys.stderr)
    work = WORK_ROOT / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        hermetic_env(work, bool(args.trace))
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": units[k]} for k in units}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
