"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|queries --seed N \
        --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``
before anything is timed, outputs are checked after the timed part, and
the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
untraced (``--trace 0``), the per-layer metrics traced (``--trace 1``).
The line before it is the run record: pinned environment, load over the
run, versions, per-operation walls. The exit code is non-zero when any
output mismatches.

Everything the run writes lives under ``.perfbench_run/`` in the
working directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT))

from perfbench import procstat  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "round_p50_ms": "ms",
    "cpu_s_per_round": "s",
}

PER_LAYER = {
    "sinks.write_s": "s", "sinks.jobs": "count", "sinks.tasks": "count",
    "sinks.busy_cores": "cores", "sinks.files_per_batch": "count",
    "sinks.bytes_per_batch": "bytes",
    "ingest.batch.ingest_batch_s": "s", "ingest.batch.jobs": "count",
    "ingest.batch.cpu_s": "s", "ingest.catalog.new_columns": "count",
    "ingest.catalog.schema_groups": "count",
    "ingest.avro.decode_s": "s", "ingest.avro.jobs": "count",
    "ingest.avro.cpu_s": "s",
    "streaming.latesplit.split_late_s": "s",
    "streaming.latesplit.jobs": "count",
    "streaming.latesplit.late_rows": "count",
    "streaming.source_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.pipeline.add_batch_ms": "ms",
    "streaming.pipeline.self_ms": "ms", "streaming.checkpoint_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.stages_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.dedup.executions_per_batch": "count",
    "streaming.dedup.state_rows": "count",
    "streaming.dedup.state_bytes": "bytes",
    "streaming.dedup.commit_ms": "ms",
    "streaming.dedup.dropped_rows": "count",
    "streaming.dedup.drop_ratio": "ratio",
    "queries.build_s": "s", "queries.execute_s": "s",
    "queries.build_jobs": "count", "queries.execute_jobs": "count",
    "queries.tasks": "count", "queries.busy_cores": "cores",
    **{f"queries.{q}.{m}": u
       for q in ("llm09", "dq41")
       for m, u in (("build_s", "s"), ("execute_s", "s"), ("jobs", "count"))},
    "process.peak_rss_mb": "MB",
    "trace_overhead_frac": "ratio",
}

WORKLOADS = ("ingest", "queries")
DRIVER_MEM = "4g"


def _pin_env(work: Path) -> dict:
    """Environment every run uses, set before the JVM starts."""
    # Spark gets half the cores the run may use; the other half runs the
    # JVM's compiler and GC threads, the Python workers and the driver.
    # On a shared 4-core host, ingest runs at local[4] took 10% longer and
    # their walls spread about twice as far from run to run.
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # -UsePerfData: no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={work / 'tmp'} "
                              "-XX:-UsePerfData"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(pins)
    return pins


def _git_commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.exists():
        return None
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        path = ROOT / ".git" / ref[5:]
        return path.read_text().strip() if path.exists() else None
    return ref


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and every worker; wait for each."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while procstat.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants():
        os.kill(pid, 15)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_run" / (
        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    if work.exists():
        shutil.rmtree(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_run").rmdir()
        except OSError:
            pass


def _run(args, work: Path) -> int:
    pins = _pin_env(work)
    load = procstat.LoadWindow()
    loadavg = os.getloadavg()

    import pyspark

    from perfbench import ingest, queries
    from perfbench.trace import Tracer
    from rakam_api_collector_spark.session import get_spark

    extra = {}
    if args.trace:
        # keep every job and stage of the run in the status store so
        # per-span task counts are complete
        extra = {"spark.ui.retainedJobs": "100000",
                 "spark.ui.retainedStages": "100000"}
    spark = get_spark("perfbench", extra_conf=extra)
    try:
        tracer = Tracer(spark, f"{args.workload}-{args.seed}") \
            if args.trace else None
        mod = ingest if args.workload == "ingest" else queries
        res = mod.run(spark, args.seed, args.seconds, work, tracer)
        peak_rss = procstat.tree_peak_rss_mb()
    finally:
        t_stop = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t_stop

    metrics = dict(res["metrics"])
    if "setup_end" in res:
        metrics["setup_s"] = res["setup_end"] - procstat.process_start()
    if args.trace:
        layers = res["layers"]
        layers["process.peak_rss_mb"] = sum(peak_rss.values())
        out_metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
    else:
        out_metrics = {k: {"value": float(metrics[k]), "unit": u}
                       for k, u in END_TO_END.items()}

    failures = res["failures"]
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "env": pins, "nproc": os.cpu_count(),
        "loadavg_at_start": loadavg, "load": load.close(),
        "cpu_probe_s_after": procstat.cpu_probe_s(),
        "git_commit": _git_commit(), "spark": pyspark.__version__,
        "python": platform.python_version(),
        "missing_spans": tracer.missing if tracer else [],
        "failures": failures, "stop_s": stop_s,
        "peak_rss_mb_by_process": peak_rss, **res["record"],
    }
    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": min(len(failures), res["attempted"]),
        "metrics": out_metrics,
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
