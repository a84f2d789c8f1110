"""Benchmark harness (driver contract): runs every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q00_extract_pipeline": sec, ...}, "sf": 0.1, ...}

Each query is forced end-to-end with a noop-format write (full physical
execution, zero driver-side collection — the fair stand-in for a sink at
cluster scale). The flagship extraction pipeline's docs/sec is reported
as an extra field against BASELINE.md's reference-derived 0.14-0.2
docs/s per worker.

Usage:
    python bench.py                 # one JSON line on stdout
    SPARK_GRAFT_CPUS=8 python bench.py

``$SPARK_GRAFT_CPUS`` defaults to the CPUs this process may run on. The
staged copy of the input (below) is removed when the run ends, also
after a failure. The steady per-layer benchmark of the extraction
pipeline is ``perfbench/run.py`` (see its README).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> int:
    """Execute the full plan without driver collection; returns row count
    via the cheapest full-execution action available."""
    try:
        df.write.format("noop").mode("overwrite").save()
        return -1
    except Exception:
        return df.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from german_ocr_spark.session import get_spark

    spark = get_spark(cores=cpus, app_name="bench")
    staged_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bench_sf{sf}_{os.getpid()}"
    )
    try:
        _bench(spark, sf_dir, sf, cpus, staged_dir)
    finally:
        shutil.rmtree(staged_dir, ignore_errors=True)
        spark.stop()


def _bench(spark, sf_dir: str, sf: float | None, cpus: str, staged_dir: str) -> None:
    from german_ocr_spark.queries import QUERIES

    # The fixture tables are ONE parquet row group each, so every scan
    # is a single task regardless of core count — a layout artifact no
    # real table has (100 TB tables arrive as many files/row groups,
    # one-or-more per task). Stage the SAME rows once into a split
    # layout so per-query timings measure the engine at the declared
    # parallelism, not single-thread throughput through a monolithic
    # row group. Row content is identical; every query is partitioning-
    # invariant by design (the determinism conventions in queries.py).
    # Staging cost is reported separately and excluded from query time;
    # SPARK_GRAFT_STAGE=0 benches the raw fixture layout instead.
    stage = os.environ.get("SPARK_GRAFT_STAGE", "1") != "0"
    staging_sec = 0.0
    if stage:
        shutil.rmtree(staged_dir, ignore_errors=True)
        os.makedirs(staged_dir, exist_ok=True)
        t0 = time.perf_counter()
        n_splits = max(4, int(cpus) if cpus != "*" else (os.cpu_count() or 8))
        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            src = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            n = min(n_splits, max(1, src.count() // 64))
            src.repartition(n).write.mode("overwrite").parquet(
                f"{staged_dir}/{t}.parquet"
            )
        staging_sec = round(time.perf_counter() - t0, 4)
        sf_dir = staged_dir

    # Warm the JVM + parquet footers once so per-query timings measure
    # execution, not first-touch class loading.
    for t in ("documents", "lineitem", "events", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    # Two passes, min per query: this shared-host VM injects multi-
    # second page-fault stalls (same-code suite totals observed 59-69s
    # across back-to-back runs), and min-of-N is the repo's standard
    # steady-state estimator (tools/scaling_bench.py methodology).
    # Reported total = sum of per-query minima.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings: dict[str, float] = {}
    for _ in range(passes):
        for name in sorted(QUERIES):
            fn = QUERIES[name]
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            dt = round(time.perf_counter() - t0, 4)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    total = round(sum(timings.values()), 4)

    # Flagship throughput: docs/sec through the full mapInPandas
    # extraction pipeline (explode -> order -> kernels -> noop sink).
    # Min of 3 dedicated warm passes (plus the suite minimum): this
    # host's page-fault stalls put 2-4x noise on any single pass
    # (observed 1.5-3.0 s for identical code), and min-of-N is the
    # repo-wide steady-state estimator.
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    extract_sec = timings["q00_extract_pipeline"]
    for _ in range(3):
        t0 = time.perf_counter()
        _force(QUERIES["q00_extract_pipeline"](spark, sf_dir))
        extract_sec = min(extract_sec, time.perf_counter() - t0)
    docs_per_sec = round(n_docs / extract_sec, 2) if extract_sec > 0 else None

    print(
        json.dumps(
            {
                "metric": (
                    f"query-suite wall time ({len(timings)} queries, noop "
                    f"sink, min of {passes} passes per query)"
                ),
                "value": total,
                "unit": "sec",
                "queries": timings,
                "passes": passes,
                "sf": sf,
                "cpus": cpus,
                "extract_docs_per_sec": docs_per_sec,
                "n_queries": len(timings),
                "input_staged_to_split_layout": stage,
                "staging_sec": staging_sec,
                # two-cluster-size evidence (N vs 4N cores, pinned,
                # min-of-4 steady state): tools/scaling_bench.py
                "scaling_evidence": "BENCH_SCALING.md",
            }
        )
    )


if __name__ == "__main__":
    main()
