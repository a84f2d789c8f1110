"""A16/A17 job lifecycle: progress stream, status poll, cancel semantics
(reference cloud_client.py:386-462 — get_job / wait_for_result
on_progress / cancel_job)."""

from __future__ import annotations

import threading

import pandas as pd
import pytest

from german_ocr_spark import pipeline
from german_ocr_spark.golden import golden_extract
from german_ocr_spark.plans import lineage as lin
from german_ocr_spark.synth import docs_to_spark, synth_docs

N_DOCS = 120


@pytest.fixture(scope="module")
def docs():
    return synth_docs(N_DOCS, seed=7)


def _sorted_pdf(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
        .astype({"order": "int64"})
    )


def test_progress_stream_is_monotone_and_complete(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    seen: list[pipeline.JobProgress] = []
    res = pipeline.run(
        spark,
        docs_to_spark(spark, docs),
        out,
        n_buckets=8,
        bucket_group_size=2,
        on_progress=seen.append,
    )
    assert len(seen) == 4  # one callback per commit group
    done = [p.buckets_done for p in seen]
    spans = [p.span_count for p in seen]
    assert done == sorted(done) and done[-1] == 8
    assert spans == sorted(spans) and spans[-1] == res.span_count
    assert all(p.phase == "extract" and p.buckets_total == 8 for p in seen)
    # an independent reader polling status() at the end sees completed
    st = pipeline.status(spark, out, n_buckets=8)
    assert st.status == "completed"
    assert st.buckets_done == 8 and st.span_count == res.span_count


def test_status_transitions(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    sdf = docs_to_spark(spark, docs)
    assert pipeline.status(spark, out, n_buckets=4).status == "pending"
    pipeline.run(spark, sdf, out, n_buckets=4, bucket_group_size=1, max_groups=2)
    mid = pipeline.status(spark, out, n_buckets=4)
    assert mid.status == "processing" and mid.buckets_done == 2
    assert pipeline.cancel(spark, out, snapshot_id="snap-0001") is True
    assert pipeline.status(spark, out, n_buckets=4).status == "cancelled"
    # resume past the cancel → completed wins
    pipeline.run(spark, sdf, out, n_buckets=4, bucket_group_size=1)
    assert pipeline.status(spark, out, n_buckets=4).status == "completed"


def test_resumed_run_clears_cancel_intent(spark, docs, tmp_path):
    """A cancelled job that is resumed must report 'processing' while
    the resume is mid-flight, not 'cancelled' — the resumed run durably
    clears outstanding cancel intent at start."""
    out = str(tmp_path / "out")
    sdf = docs_to_spark(spark, docs)
    pipeline.run(spark, sdf, out, n_buckets=4, bucket_group_size=1, max_groups=1)
    assert pipeline.cancel(spark, out, snapshot_id="snap-0001")
    assert pipeline.status(spark, out, n_buckets=4).status == "cancelled"
    # resume one more group, then stop — mid-flight from a poller's view
    pipeline.run(spark, sdf, out, n_buckets=4, bucket_group_size=1, max_groups=1)
    assert pipeline.status(spark, out, n_buckets=4).status == "processing"
    # a second cancel re-establishes intent
    assert pipeline.cancel(spark, out, snapshot_id="snap-0001")
    assert pipeline.status(spark, out, n_buckets=4).status == "cancelled"
    # and a final resume completes the job
    pipeline.run(spark, sdf, out, n_buckets=4)
    assert pipeline.status(spark, out, n_buckets=4).status == "completed"


def test_cancel_swallows_errors_to_false():
    class Broken:
        @property
        def sparkContext(self):
            raise RuntimeError("no context")

    assert pipeline.cancel(Broken(), "/nonexistent") is False


def test_cancelled_partial_output_invisible_and_resumable(spark, docs, tmp_path):
    """Cancel a live run after its first commit: the run aborts, committed
    groups stay readable, nothing later is committed, and a rerun
    completes to the exact golden table."""
    out = str(tmp_path / "out")
    sdf = docs_to_spark(spark, docs)
    cancelled = threading.Event()

    def fire_cancel(p: pipeline.JobProgress) -> None:
        # external controller cancels as soon as the first group lands
        if p.buckets_done == 1 and not cancelled.is_set():
            cancelled.set()
            assert pipeline.cancel(spark, out, snapshot_id="snap-0001")

    with pytest.raises(pipeline.RunCancelled):
        pipeline.run(
            spark,
            sdf,
            out,
            n_buckets=8,
            bucket_group_size=1,
            on_progress=fire_cancel,
        )
    assert cancelled.is_set()

    committed = lin.committed_buckets(lin.lineage_rows(spark, out))
    assert len(committed) == 1  # exactly the group that beat the cancel

    # read_output sees exactly the committed buckets' docs (manifest
    # resolution hides anything the killed group managed to write)
    got_partial = pipeline.read_output(spark, out)
    assert set(
        r.bucket_id
        for r in got_partial.withColumn("bucket_id", lin.bucket_col(8))
        .select("bucket_id")
        .distinct()
        .collect()
    ) <= committed

    # resume to completion → byte-identical to the golden table
    pipeline.run(spark, sdf, out, n_buckets=8, bucket_group_size=1)
    got = _sorted_pdf(pipeline.read_output(spark, out))
    want = golden_extract(docs).astype({"order": "int64"})
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert pipeline.status(spark, out, n_buckets=8).status == "completed"


def test_commit_manifests_are_per_group_subdirs(spark, docs, tmp_path):
    """Object-store-safe manifests: every commit group writes into its
    own data/ subdirectory and the lineage manifest references exactly
    those files — no shared-directory listing diff anywhere."""
    out = str(tmp_path / "out")
    pipeline.run(
        spark, docs_to_spark(spark, docs), out, n_buckets=4, bucket_group_size=2
    )
    ldf = lin.read_lineage(spark, out).toPandas()
    manifests = ldf[ldf["status"] == "committed"]["files"]
    assert len(manifests) == 4
    subdirs = set()
    for files in manifests:
        assert len(files) > 0
        for f in files:
            sub, name = f.split("/", 1)
            assert name.endswith(".parquet")
            subdirs.add(sub)
    # 2 commit groups → 2 distinct exclusively-owned subdirs
    assert subdirs == {"snap-0001-g00000", "snap-0001-g00002"}
