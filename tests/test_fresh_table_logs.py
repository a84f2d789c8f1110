"""A run into a fresh local output dir must find out that the table has
no lineage yet without a failing Spark read. Such a read raises
``PATH_NOT_FOUND``, which Spark logs as an ``ExecutionListenerBus``
stack trace from the second fresh table of a session on.

Spark logs to the JVM's own stderr, so the runs happen in a
child process whose stderr the test reads.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import os, sys
from german_ocr_spark import pipeline
from german_ocr_spark.plans import lineage as lin
from german_ocr_spark.session import get_spark
from german_ocr_spark.synth import docs_to_spark, synth_docs

spark = get_spark(cores=2, app_name="fresh-table-logs", shuffle_partitions=2)
docs = docs_to_spark(spark, synth_docs(20, seed=3))
for i in range(2):
    out = os.path.join(sys.argv[1], f"out{i}")
    assert lin.recorded_bucketing(spark, out) is None
    assert lin.committed_buckets(spark, out) == set()
    res = pipeline.run(spark, docs, out, n_buckets=4)
    assert res.buckets_processed == 4, res
    assert lin.committed_buckets(spark, out) == {0, 1, 2, 3}
spark.stop()
print("RUNS-OK")
"""


def test_fresh_table_runs_log_no_missing_path_noise(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert "RUNS-OK" in proc.stdout, proc.stderr[-4000:]
    assert "ExecutionListenerBus" not in proc.stderr, proc.stderr[-4000:]
    assert "PATH_NOT_FOUND" not in proc.stderr, proc.stderr[-4000:]
