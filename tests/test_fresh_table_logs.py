"""Lineage reads are driver-side folds, never Spark jobs, on a local path.

A run into a fresh local output dir must find out that the table has
no lineage yet without a failing Spark read. Such a read raises
``PATH_NOT_FOUND``, which Spark logs as an ``ExecutionListenerBus``
stack trace from the second fresh table of a session on; and every
Spark read of an existing ``_lineage`` dir logs ``All paths were
ignored`` (Spark flags input paths whose last segment starts with
``_``).

The whole job lifecycle — kill, cancel, resume, status, upsert,
delete, compact, time travel, vacuum, usage — runs with the Spark
lineage reader (``lin.read_lineage``) replaced by one that raises:
once in a child process whose stderr (the JVM's log) the test reads,
and once in the test session, where the same lifecycle through the
non-local branch (``_local_posix_path`` forced to None: Spark writes
and one Spark ``collect()`` per read) must give identical results.
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

from german_ocr_spark import pipeline
from german_ocr_spark.client import GermanOCRSpark
from german_ocr_spark.operators.extract import extract_pipeline
from german_ocr_spark.plans import lineage as lin
from german_ocr_spark.plans.compact import compact
from german_ocr_spark.plans.delete import delete_docs
from german_ocr_spark.plans.upsert import upsert_docs
from german_ocr_spark.schema import LINEAGE_SCHEMA
from german_ocr_spark.synth import docs_to_spark, synth_docs

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)
T0, T1, T2, T3, T4 = (f"2026-01-01T00:00:0{i}Z" for i in range(5))
COLS = ("doc_id", "order", "kind", "text", "media_ref", "error", "error_code")


def no_spark_reads(*a, **k):
    raise AssertionError("Spark read of _lineage on a local path")


def lifecycle(spark, root: str) -> dict:
    """Kill → cancel → resume → status → upsert → delete → compact →
    read_output(as_of) → vacuum → cancel → get_usage over one job dir;
    returns every observable result, JSON-shaped."""
    job = "job-0001"
    out = os.path.join(root, job)
    os.makedirs(out)
    with open(os.path.join(out, "_job.json"), "w") as fh:
        json.dump({"job_id": job, "n_buckets": 4}, fh)
    docs = docs_to_spark(spark, synth_docs(24, seed=11))
    kw = dict(n_buckets=4, bucket_group_size=1, snapshot_id=job, committed_at=T0)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*COLS).collect())

    got = {"killed": pipeline.run(spark, docs, out, max_groups=2, **kw)}
    got["cancel_killed"] = pipeline.cancel(spark, out, job, cancelled_at=T0)
    got["status_cancelled"] = pipeline.status(spark, out, n_buckets=4)
    got["resumed"] = pipeline.run(spark, docs, out, **kw)
    got["status_done"] = pipeline.status(spark, out, n_buckets=4)
    # fresh versions of docs 0-5 (seed 12) replace the committed ones
    fresh = extract_pipeline(docs_to_spark(spark, synth_docs(6, seed=12)))
    got["upsert"] = upsert_docs(spark, out, fresh, snapshot_id="u-1", committed_at=T1)
    got["delete"] = delete_docs(
        spark, out, ["doc-00000007", "doc-00000008"], snapshot_id="d-1", committed_at=T2
    )
    got["compact"] = compact(spark, out, snapshot_id="c-1", committed_at=T3)
    got["rows_as_of_run"] = rows(pipeline.read_output(spark, out, as_of=T0))
    got["rows_as_of_upsert"] = rows(pipeline.read_output(spark, out, as_of=T1))
    got["rows_now"] = rows(pipeline.read_output(spark, out))
    got["vacuumed"] = len(lin.vacuum(spark, out))
    got["rows_after_vacuum"] = rows(pipeline.read_output(spark, out))
    got["cancel_done"] = pipeline.cancel(spark, out, job, cancelled_at=T4)
    got["status_final"] = pipeline.status(spark, out, n_buckets=4)
    got["usage"] = [tuple(r) for r in GermanOCRSpark(spark, root).get_usage().collect()]
    return json.loads(
        json.dumps(
            got,
            default=lambda o: dataclasses.asdict(o) if dataclasses.is_dataclass(o) else o,
        )
    )


SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[2])
from german_ocr_spark import pipeline
from german_ocr_spark.plans import lineage as lin
from german_ocr_spark.session import get_spark
from german_ocr_spark.synth import docs_to_spark, synth_docs
from test_fresh_table_logs import lifecycle, no_spark_reads

lin.read_lineage = no_spark_reads
spark = get_spark(cores=2, app_name="fresh-table-logs", shuffle_partitions=2)
docs = docs_to_spark(spark, synth_docs(20, seed=3))
for i in range(2):
    out = os.path.join(sys.argv[1], f"out{i}")
    assert lin.recorded_bucketing(lin.lineage_rows(spark, out)) is None
    assert lin.committed_buckets(lin.lineage_rows(spark, out)) == set()
    res = pipeline.run(spark, docs, out, n_buckets=4)
    assert res.buckets_processed == 4, res
    assert lin.committed_buckets(lin.lineage_rows(spark, out)) == {0, 1, 2, 3}
got = lifecycle(spark, os.path.join(sys.argv[1], "jobs"))
spark.stop()
print("RESULT " + json.dumps(got))
"""


def test_fresh_table_runs_log_no_missing_path_noise(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path), TESTS],
        capture_output=True,
        text=True,
        env=env,
        timeout=900,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, proc.stderr[-4000:]
    got = json.loads(lines[-1][len("RESULT ") :])
    assert got["status_done"]["status"] == "completed", got
    assert "ExecutionListenerBus" not in proc.stderr, proc.stderr[-4000:]
    assert "PATH_NOT_FOUND" not in proc.stderr, proc.stderr[-4000:]
    assert "All paths were ignored" not in proc.stderr, proc.stderr[-4000:]


def test_lifecycle_folds_match_the_spark_reader_branch(spark, tmp_path, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(lin, "read_lineage", no_spark_reads)
        want = lifecycle(spark, str(tmp_path / "local"))
    assert want["killed"]["buckets_processed"] == 2
    assert want["status_cancelled"]["status"] == "cancelled"
    assert (want["resumed"]["buckets_skipped"], want["resumed"]["buckets_processed"]) == (2, 2)
    assert want["resumed"]["doc_count"] == want["status_done"]["doc_count"] > 0
    assert want["delete"]["rows_deleted"] > 0 and want["compact"]["bins"] > 0
    assert want["vacuumed"] > 0 and want["rows_after_vacuum"] == want["rows_now"]
    assert want["status_final"]["status"] == "completed"
    assert [u[1] for u in want["usage"]] == ["completed"]

    monkeypatch.setattr(lin, "_local_posix_path", lambda spark, path: None)
    assert lifecycle(spark, str(tmp_path / "cluster")) == want


def test_mixed_spark_and_arrow_lineage_files_read_identically(spark, tmp_path, monkeypatch):
    """A local ``_lineage`` dir holding a Spark-written file (with its
    ``_SUCCESS`` and ``.crc`` siblings), pyarrow-written files and an
    in-flight temp file reads the same rows through both branches."""
    out = str(tmp_path / "out")
    lin.append_lineage(spark, out, [("a", 0, 10, 20, 1, "committed", T0, ["a-g0/p.parquet"])])
    spark.createDataFrame(
        [
            ("b", 1, 30, None, 0, "committed", T1, None),
            ("b", -1, 4, 0, 0, "bucketing", None, []),
        ],
        schema=LINEAGE_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(lin.lineage_path(out))
    lin.append_lineage(spark, out, [("c", -1, 0, 0, 0, "cancelled", T2, [])])
    names = os.listdir(lin.lineage_path(out))
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    with open(os.path.join(lin.lineage_path(out), ".part-x.parquet.tmp"), "wb") as fh:
        fh.write(b"not parquet")

    local = sorted(lin.lineage_rows(spark, out), key=repr)
    assert len(local) == 4
    monkeypatch.setattr(lin, "_local_posix_path", lambda spark, path: None)
    assert sorted(lin.lineage_rows(spark, out), key=repr) == local
    assert lin.lineage_rows(spark, str(tmp_path / "missing")) == []
