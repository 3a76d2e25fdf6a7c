#!/usr/bin/env python3
"""Benchmark for edspdf_spark (see perfbench/README.md).

    python3 perfbench/run.py --workload pdf_extract --seed 1 --seconds 10 \
        --trace 0

Runs one workload in a closed loop on local[nproc] for about `--seconds`
and prints its metrics; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones
(Spark event log + kernel spans). Everything it writes stays under
`.bench_work/` in the checkout it runs from.
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
MIN_PASSES = 2

END_TO_END = {"setup_s": "s", "run_s": "s", "docs_per_s": "1/s",
              "peak_rss_mb": "MB"}
# printed, not gated: they exist on one workload each, or are 0 when
# the run is correct
WORKLOAD_ONLY = {"resume_s": "s", "scaling_eff": "ratio",
                 "failed_ratio": "ratio"}
PER_LAYER = {
    "kernels.pdf.parse_us_per_doc": "us",
    "kernels.extract.walk_us_per_doc": "us",
    "kernels.reading_order.us_per_doc": "us",
    "kernels.alignment.classify_us_per_doc": "us",
    "kernels.aggregate.us_per_doc": "us",
    "kernels.html.extract_us_per_doc": "us",
    "kernels.error_docs": "count",
    "operators.fused.task_s_p50": "s",
    "operators.fused.task_s_p90": "s",
    "operators.fused.executor_run_s": "s",
    "operators.fused.executor_cpu_s": "s",
    "operators.fused.python_bytes_sent": "bytes",
    "operators.fused.python_bytes_received": "bytes",
    "operators.fused.rows_in": "count",
    "operators.fused.rows_out": "count",
    "operators.fused.overhead_share": "ratio",
    "sources.scan_s": "s",
    "sources.scan_bytes": "bytes",
    "plans.salt.shuffle_write_bytes": "bytes",
    "plans.salt.shuffle_write_s": "s",
    "plans.salt.shuffle_read_bytes": "bytes",
    "plans.salt.partition_rows_max_over_mean": "ratio",
    "plans.salt.task_s_max_over_median": "ratio",
    "plans.checkpoint.jobs": "count",
    "plans.checkpoint.scan_amplification": "ratio",
    "plans.checkpoint.rework_docs": "count",
    "plans.checkpoint.persist_peak_bytes": "bytes",
    "plans.checkpoint.write_s": "s",
    "plans.checkpoint.bytes_written": "bytes",
    "plans.checkpoint.files_written": "count",
    "plans.checkpoint.marker_s": "s",
    "plans.metrics.rollup_s": "s",
    "operators.dedup.dedup_jaccard_s": "s",
    "operators.dedup.dedup_jaccard_shuffle_bytes": "bytes",
    "operators.components.dedup_components_s": "s",
    "operators.components.dedup_components_shuffle_bytes": "bytes",
    "operators.index.bm25_topk_s": "s",
    "operators.index.bm25_topk_shuffle_bytes": "bytes",
    "operators.analysis.lm_ppl_buckets_s": "s",
    "operators.analysis.lm_ppl_buckets_shuffle_bytes": "bytes",
    "operators.urls.regdomain_stats_s": "s",
    "operators.urls.regdomain_stats_shuffle_bytes": "bytes",
    "operators.storage_mem_bytes_end": "bytes",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "trace.overhead_share": "ratio",
}


def isolate(work: str) -> None:
    """Point every temp, spill and JVM working file of this process and
    its children at `work`, and let Spark's Python workers import the
    program from the checkout."""
    tmp = os.path.join(work, "tmp")
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no /tmp/hsperfdata_* files, for the launcher JVM as well
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable


def spark_session(work: str, nproc: int, trace: bool):
    """local[nproc] session; see `isolate` for where its files go."""
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{nproc}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(nproc))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.local.dir", os.path.join(work, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "events"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.logBlockUpdates.enabled", "true"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_processes(spark) -> None:
    """Stop the session, then its JVM and every process below this one
    (Python workers, launcher), and wait until each has ended.

    `spark.stop()` leaves the JVM running until it sees its stdin close
    and lets the Python workers exit on their own; both would outlive
    this process. `spark` may be None when the session never started."""
    from pyspark import SparkContext

    from perfbench import procmon

    tree = procmon.descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may be gone already
                pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()  # the JVM exits on EOF
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - SIGTERM/SIGKILL below
                pass
        procmon.stop_all(tree + procmon.descendants(os.getpid()))


def run(args) -> dict:
    from perfbench import procmon
    from perfbench.eventlog import EventLog
    from perfbench.workloads import WORKLOADS, Tally

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(ROOT, ".bench_work", "trace")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(trace_dir, f"{args.workload}-s{args.seed}")
    phases = {}
    t_start = time.perf_counter()
    spark = None
    try:
        host = procmon.host_sentinel()
        wl = WORKLOADS[args.workload](work, args.seed, nproc)
        tally = wl.prepare()
        phases["prepare_s"] = time.perf_counter() - t_start
        kernel = wl.kernel_layers(stem + "-spans") if args.trace else {}

        with procmon.PeakRss() as rss:
            t0 = time.perf_counter()
            try:
                spark = spark_session(work, nproc, args.trace)
                tally += wl.warm(spark)
                setup_s = time.perf_counter() - t0
                times, tags, peaks = [], [], []
                jiffies = procmon.cpu_jiffies()
                t_run = time.perf_counter()
                # stop before a pass that would end after --seconds
                while (len(times) < MIN_PASSES
                       or time.perf_counter() - t_run + times[-1]
                       <= args.seconds):
                    tags.append(f"timed-{len(times)}")
                    rss.take()
                    dt, t = wl.timed(spark, tags[-1])
                    peaks.append(rss.take())
                    times.append(dt)
                    tally += t
                run_s = statistics.median(times)
                phases["measure_s"] = time.perf_counter() - t_run
                host["steal_share"] = procmon.steal_share(jiffies)
                extra, t = wl.extras(spark, run_s, bool(args.trace))
                tally += t
                app_id = spark.sparkContext.applicationId
            finally:
                stop_processes(spark)

        e2e = {"setup_s": setup_s, "run_s": run_s,
               "docs_per_s": wl.docs / run_s,
               "peak_rss_mb": statistics.median(peaks) / 2 ** 20,
               **extra,
               "failed_ratio": tally.failed / tally.attempted}
        phases["total_s"] = time.perf_counter() - t_start
        summary = {"workload": args.workload, "seed": args.seed,
                   "passes": len(times), "pass_s": times, "phases": phases,
                   "host": host}
        print(json.dumps(summary))
        for name, unit in {**END_TO_END, **WORKLOAD_ONLY}.items():
            value = e2e.get(name)
            print(f"{name:>14} {'n/a' if value is None else f'{value:.6g}'}"
                  f" {unit}")

        if not args.trace:
            metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        else:
            log = EventLog.read(os.path.join(work, "events", app_id))
            layers = {**{k: 0.0 for k in PER_LAYER},
                      **{k: v for k, v in kernel.items() if k in PER_LAYER},
                      **wl.layers(log, tags, kernel)}
            with open(stem + "-layers.json", "w") as fh:
                json.dump({**summary, "e2e": e2e, "layers": layers,
                           "kernel": kernel}, fh, indent=1)
            for name in PER_LAYER:
                print(f"{name:>52} {layers[name]:.6g} {PER_LAYER[name]}")
            metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
        return {"correct": tally.failed == 0, "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}
    finally:
        # also covers a failure before or while the session started
        procmon.stop_all(procmon.descendants(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    try:  # the program under test must be present in the checkout
        import __spark_entry__  # noqa: F401
        import edspdf_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: program not found under {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    # a SIGTERM unwinds through run()'s teardown instead of orphaning
    # the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
