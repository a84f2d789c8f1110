"""Benchmark command for the german_ocr_spark engine.

    python3 perfbench/run.py --workload extract-mixed --seed 1 --seconds 15 --trace 0

Run it from the repository root. Workloads: extract-mixed and
commit-resume (README.md says why each exists). The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything the run writes
lives under ``.perfbench/`` in the repository root; its working
directory is removed at the end, and span traces and results stay in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import (  # noqa: E402
    EventLog,
    RssSampler,
    Tracer,
    descendants,
    process_start_epoch,
    wait_for_exit,
)

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "iteration_s": "s",
    "output_bytes": "bytes",
}

# every traced run reports all of these; a layer the workload never
# reaches reads 0
PER_LAYER = {
    "sources.scan_s": "s",
    "extract.order_s": "s",
    "extract.arrow_s": "s",
    "extract.kernels_s": "s",
    **{f"kernel.{k}_s": "s" for k in ("pdf", "html", "ocr", "text")},
    **{f"kernel.{k}_spans": "count" for k in ("pdf", "html", "ocr", "text", "image")},
    "kernels.parse.pdf_s": "s",
    "kernels.xycut_s": "s",
    "kernels.parse.html_s": "s",
    "kernels.boilerplate_s": "s",
    "functions.german.normalize_s": "s",
    "lineage.write_s": "s",
    "lineage.append_s": "s",
    "lineage.appends": "count",
    "lineage.observe_cols": "count",
    "pipeline.lineage_reads_s": "s",
    "pipeline.groups": "count",
    "pipeline.first_run_s": "s",
    "pipeline.resume_s": "s",
    "plans.upsert_s": "s",
    "plans.delete_s": "s",
    "plans.compact_s": "s",
    "plans.maintenance_s": "s",
    "pipeline.read_output_s": "s",
    "pipeline.read_as_of_s": "s",
    "pipeline.status_s": "s",
    "client.get_usage_s": "s",
    "spark.python_run_s": "s",
    "spark.python_boot_s": "s",
    "spark.python_init_s": "s",
    "spark.bytes_to_python": "bytes",
    "spark.bytes_from_python": "bytes",
    "spark.scan_s": "s",
    "spark.bytes_written": "bytes",
    "spark.files_written": "count",
    "spark.shuffle_bytes_written": "bytes",
    "spark.fetch_wait_s": "s",
    "spark.jobs": "count",
    "queries.pass_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.shuffle_bytes_written": "bytes",
    "queries.fetch_wait_s": "s",
    **{f"query.{q}_s": "s" for q in ("q202", "q112", "q161", "q42", "q148")},
    "trace.docs_per_s": "docs/s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--workload",
        required=True,
        choices=("extract-mixed", "commit-resume"),
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker it
    started have exited."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin, our end of the pipe, closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    alive = wait_for_exit(children, timeout_s=60)
    if alive:
        raise RuntimeError(f"processes still running after spark.stop(): {alive}")


def _report_overhead(results_dir: str, workload: str, traced_docs_per_s: float) -> None:
    """Tracing overhead: this traced run's docs_per_s against the median
    of the untraced runs of the same workload kept in ``results_dir``."""
    import statistics

    untraced = []
    for name in os.listdir(results_dir):
        if name.startswith(f"{workload}-trace0-") and name.endswith(".json"):
            with open(os.path.join(results_dir, name)) as fh:
                untraced.append(json.load(fh)["metrics"]["docs_per_s"]["value"])
    if untraced:
        base = statistics.median(untraced)
        print(
            f"perfbench tracing overhead: {100 * (base / traced_docs_per_s - 1):.1f}% "
            f"(traced {traced_docs_per_s:.1f} docs/s, untraced median {base:.1f} "
            f"over {len(untraced)} runs)",
            file=sys.stderr,
        )


def main(argv=None) -> int:
    args = _args(argv)
    started = process_start_epoch()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    eventlog_dir = os.path.join(work, "eventlog")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    # Spark's Python workers import the engine and this package from the
    # repository root; scratch files stay inside the run's directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    rss = RssSampler()
    rss.start()
    try:
        from german_ocr_spark.session import get_spark
        from perfbench import workloads

        tracer = Tracer(enabled=bool(args.trace))
        conf = {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        }
        if args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        cores = len(os.sched_getaffinity(0))
        spark = get_spark(cores=cores, app_name=f"perfbench-{args.workload}", extra_conf=conf)
        run = workloads.Run(spark, args.seed, args.seconds, work, tracer)
        try:
            workloads.WORKLOADS[args.workload](run)
        finally:
            tracer.unwrap_all()
            _stop_spark(spark)
        run.end_to_end["setup_s"] = run.first_timed - started
        if args.trace:
            (log_file,) = os.listdir(eventlog_dir)
            workloads.event_layers(run, EventLog(os.path.join(eventlog_dir, log_file)))
            run.layers["trace.docs_per_s"] = run.end_to_end["docs_per_s"]
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    # a reference figure only: it does not repeat across processes
    peak_rss_mb = rss.peak_bytes / 2**20
    print(f"perfbench peak_rss_mb: {peak_rss_mb:.1f}", file=sys.stderr)

    if run.problems:
        for p in run.problems:
            print(f"check failed: {p}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": run.layers.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": run.end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": 0,
        "metrics": metrics,
    }
    stem = f"{args.workload}-trace{args.trace}-seed{args.seed}-{int(time.time())}"
    with open(os.path.join(results_dir, f"{stem}.json"), "w") as fh:
        json.dump(
            {**result, "problems": run.problems, "cores": cores, "peak_rss_mb": peak_rss_mb}, fh
        )
    if args.trace:
        tracer.dump(os.path.join(results_dir, f"{stem}.spans.json"))
        _report_overhead(results_dir, args.workload, run.end_to_end["docs_per_s"])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
