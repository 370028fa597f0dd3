"""Ingest-and-serve benchmark of quick_stream_spark.

    python3 perfbench/run.py --workload stream_upsert --seed 1 --seconds 15 --trace 0

Runs one workload in this process on ``local[nproc]``, checks the end
state against DuckDB, and prints two JSON lines: the run record (every
figure, with units and sample counts) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with spans
and the Spark event log on and reports the per-layer metrics.
All files live under ``.perfbench_work/`` in the checkout and are
removed before exit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COMMITLOG_SPANS = ("commitlog.commit", "commitlog.commit_bounded")
SNAPSHOT_SPANS = ("commitlog.read", "commitlog.snapshot_view")


class Run:
    """What a workload needs: session, work dir, seed, run length, the
    process-tree sampler and (traced runs only) the span tracer."""

    def __init__(self, spark, work, seed, seconds, proc, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.proc = proc
        self.tracer = tracer
        self.layer_ops: dict[str, list[dict]] = {}


def build_session(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # keep the JVM's scratch files (and its hsperfdata) out of /tmp
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
        )
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if event_dir is not None:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            # sample the JVM heap so tasks and stages carry its peak
            .config("spark.executor.metrics.pollingInterval", "200ms")
            .config("spark.eventLog.logStageExecutorMetrics", "true")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark and end the py4j gateway JVM, which ``spark.stop()``
    leaves running until the Python process exits, and wait for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=120)


def trace_library(tracer) -> None:
    from quick_stream_spark import KeyedTable
    from quick_stream_spark.operators.commitlog import ManifestLog

    for method in ("upsert", "soft_delete"):
        tracer.wrap(KeyedTable, method, f"merge.{method}")
    for method in ("commit", "commit_bounded", "read", "snapshot_view"):
        tracer.wrap(ManifestLog, method, f"commitlog.{method}")


def layer_metrics(run, out: dict, layout: dict, jobs, stages, box) -> tuple[dict, dict, int]:
    """Per-layer metrics of a traced run, the per-op-type Spark figures
    behind them, and the number of jobs in the timed window that no
    operation claimed (0 when attribution is complete)."""
    from tracing import BATCH_PROP, SPAN_PROP, median, op_layers, outermost, self_time

    spans = run.tracer.spans
    kids = run.tracer.children()
    log_spans = COMMITLOG_SPANS + SNAPSHOT_SPANS
    prog = out.get("progress", [])
    figs = {kind: op_layers(ops, jobs, stages) for kind, ops in run.layer_ops.items()}
    primary = figs.get("op", [])
    writes = figs["op"] if prog else figs.get("direct_upsert", [])

    def per_op(key, rows=primary):
        return median([f[key] for f in rows])

    commit_spans = [s["t1"] - s["t0"] for s in outermost(spans, COMMITLOG_SPANS)]
    m = {
        "stream.engine_s_p50": median([p["trigger_s"] - p["add_batch_s"] for p in prog]),
        "stream.sink_s_p50": median([p["add_batch_s"] for p in prog]),
        "merge.upsert_self_s_p50": median(
            [self_time(s, kids, log_spans) for s in spans if s["name"] == "merge.upsert"]
        ),
        "merge.soft_delete_s_p50": median(
            [s["t1"] - s["t0"] for s in spans if s["name"] == "merge.soft_delete"]
        ),
        "merge.lookup_plan_s_p50": median(out.get("lookup_plan_s", [])),
        "merge.lookup_exec_s_p50": median(out.get("lookup_exec_s", [])),
        "merge.lookup_files_scanned": median(out.get("files_scanned", [])),
        "merge.rows_written_per_input_row": (
            sum(f["output_records"] for f in writes) / out["rows_in"] if out["rows_in"] else 0.0
        ),
        "commitlog.commit_s_p50": median(commit_spans),
        "commitlog.commit_s_max": max(commit_spans, default=0.0),
        "commitlog.snapshot_read_s_p50": median(
            [s["t1"] - s["t0"] for s in outermost(spans, SNAPSHOT_SPANS)]
        ),
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.jobs_per_direct_upsert": per_op("jobs", figs.get("direct_upsert", [])),
        "spark.driver_only_s_per_op": per_op("driver_only_s"),
        "spark.executor_cpu_s_per_op": per_op("cpu_s"),
        "spark.shuffle_bytes_per_op": per_op("shuffle_bytes"),
        "spark.spill_bytes_per_op": per_op("spill_bytes"),
        "spark.task_skew": per_op("skew"),
        "spark.output_bytes_per_op": per_op("output_bytes"),
        "spark.gc_s_per_op": per_op("gc_s"),
        "storage.live_files": layout["live_files"],
        "storage.files_per_bucket_max": layout["files_per_bucket_max"],
        "proc.cpu_s_per_krow": out["cpu_s"] / (out["rows_in"] / 1000.0) if out["rows_in"] else 0.0,
        "box.probe_s": box[0],
        "box.loadavg": box[1],
    }
    window = [op[t] for ops in run.layer_ops.values() for op in ops for t in ("t0", "t1")]
    by_kind = {
        kind: {k: median([f[k] for f in rows]) for k in rows[0]} | {"ops": len(rows)}
        for kind, rows in figs.items()
        if rows
    }
    unattributed = sum(
        1
        for j in jobs.values()
        if min(window) <= j["t0"] <= max(window)
        and SPAN_PROP not in j["props"]
        and BATCH_PROP not in j["props"]
    )
    return m, by_kind, unattributed


def run_benchmark(args, work: str, bench: dict) -> tuple[dict, dict]:
    """One run; ``bench`` is BENCHMARK.json, which names the metrics the
    result line reports."""
    from tracing import ProcTree, Tracer, box_probe, median, parse_event_log
    from workloads import WORKLOADS, storage_layout

    box = box_probe()
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    with ProcTree() as proc:
        t0 = time.perf_counter()
        spark, cores = build_session(work, event_dir)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            trace_library(tracer)
        run = Run(spark, work, args.seed, args.seconds, proc, tracer)
        try:
            out = WORKLOADS[args.workload](run)
            table = out.pop("table")
            live_bytes = table.total_bytes()
            layout = storage_layout(spark, table)
            versions = {
                "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "python": platform.python_version(),
            }
        finally:
            if tracer is not None:
                tracer.unwrap()
            stop_session(spark)
    check = out["check"]
    failed = out["failed"] if check["correct"] else out["attempted"]
    e2e = {
        # session start + input generation and pre-load (the median of the
        # repetitions) + warm-up
        "setup_s": (
            session_s + median(out["setup_reps_s"]) + out["warmup_s"],
            "s",
            len(out["setup_reps_s"]),
        ),
        **out["e2e"],
        "storage_bytes_per_row": (live_bytes / check["rows"], "B/row", 1),
        "peak_rss_mb": (proc.peak_bytes / 2**20, "MB", 1),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "versions": versions,
        "box": {"probe_s": box[0], "loadavg": box[1]},
        "session_start_s": session_s,
        "end_to_end": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
        "halves": out["halves"],
        "setup_reps_s": out["setup_reps_s"],
        "warmup_s": out["warmup_s"],
        "timed_wall_s": out["timed_wall_s"],
        "check": check,
        "live_bytes": live_bytes,
        "storage": layout,
    }
    for key in ("warmup_rounds", "warmup_medians_s"):
        if key in out:
            record[key] = out[key]
    if args.trace:
        jobs, stages, heap_peak = parse_event_log(event_dir)
        record["jvm_heap_peak_mb"] = heap_peak / 2**20
        layers, by_kind, unattributed = layer_metrics(run, out, layout, jobs, stages, box)
        record["layers"] = layers
        record["spark_by_op_type"] = by_kind
        record["unattributed_jobs"] = unattributed
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in bench["end_to_end"]}
    result = {
        "correct": check["correct"] and failed == 0,
        "attempted": out["attempted"],
        "failed": failed,
        "metrics": metrics,
    }
    return record, result


def main(argv=None) -> int:
    t_start = time.perf_counter()
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, "quick_stream_spark", "operators", "merge.py")):
        print(
            f"perfbench: no quick_stream_spark package beside {HERE}; run it from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # Spark's block manager and shuffle files; the variable wins over conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        record, result = run_benchmark(args, work, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    record["run_wall_s"] = time.perf_counter() - t_start
    print(json.dumps({"record": record}, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
