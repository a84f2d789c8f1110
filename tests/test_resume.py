"""Checkpoint/resume + lineage (SURVEY B15; reference A15-A18 semantics)
and cross-partitioning determinism (BASELINE.json cluster-size
invariance, test-level stand-in)."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from german_ocr_spark import pipeline
from german_ocr_spark.golden import golden_extract
from german_ocr_spark.operators.extract import extract_pipeline
from german_ocr_spark.plans import lineage as lin
from german_ocr_spark.synth import docs_to_spark, synth_docs

N_DOCS = 150


@pytest.fixture(scope="module")
def docs():
    return synth_docs(N_DOCS, seed=42, heavy_every=60, heavy_spans=(20, 40))


def _sorted_pdf(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
        .astype({"order": "int64"})
    )


def test_full_run_matches_golden(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    res = pipeline.run(spark, docs_to_spark(spark, docs), out, n_buckets=8)
    assert res.buckets_processed == 8 and res.buckets_skipped == 0
    got = _sorted_pdf(pipeline.read_output(spark, out))
    want = golden_extract(docs).astype({"order": "int64"})
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # lineage totals agree with data
    assert res.span_count == len(want)
    assert res.error_count == int(want["error"].notna().sum())


def test_resume_after_partial_commit(spark, docs, tmp_path):
    """Kill after the first commit group → rerun → identical final table
    and no double-processing of committed buckets."""
    out = str(tmp_path / "out")
    sdf = docs_to_spark(spark, docs)
    partial = pipeline.run(
        spark, sdf, out, n_buckets=8, bucket_group_size=3, max_groups=1
    )
    assert partial.buckets_processed == 3
    assert len(lin.committed_buckets(lin.lineage_rows(spark, out))) == 3

    resumed = pipeline.run(spark, sdf, out, n_buckets=8, bucket_group_size=3)
    assert resumed.buckets_skipped == 3
    assert resumed.buckets_processed == 5

    got = _sorted_pdf(pipeline.read_output(spark, out))
    want = golden_extract(docs).astype({"order": "int64"})
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # each bucket committed exactly once
    ldf = lin.read_lineage(spark, out).toPandas()
    assert ldf.groupby("bucket_id").size().max() == 1


def test_rerun_noop(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    sdf = docs_to_spark(spark, docs)
    pipeline.run(spark, sdf, out, n_buckets=4)
    res2 = pipeline.run(spark, sdf, out, n_buckets=4)
    assert res2.buckets_processed == 0 and res2.buckets_skipped == 4


def test_orphan_files_invisible_and_vacuumable(spark, docs, tmp_path):
    """A killed uncommitted write leaves orphan data files; manifest-
    resolved reads must not see them and vacuum must delete exactly
    them."""
    import os

    out = str(tmp_path / "out")
    sdf = docs_to_spark(spark, docs)
    pipeline.run(spark, sdf, out, n_buckets=4)
    want = _sorted_pdf(pipeline.read_output(spark, out))

    # simulate a killed job: a data file written but never committed
    orphan = os.path.join(lin.data_path(out), "part-orphan.parquet")
    extract_pipeline(sdf.limit(3)).withColumn(
        "bucket_id", lin.bucket_col(4)
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    staged = next(
        f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")
    )
    os.rename(str(tmp_path / "stage" / staged), orphan)

    got = _sorted_pdf(pipeline.read_output(spark, out))
    pd.testing.assert_frame_equal(got, want)  # orphan invisible

    removed = lin.vacuum(spark, out)
    assert removed == ["part-orphan.parquet"]
    assert not os.path.exists(orphan)
    # committed data untouched
    got2 = _sorted_pdf(pipeline.read_output(spark, out))
    pd.testing.assert_frame_equal(got2, want)


def test_partitioning_invariance(spark, docs):
    """Same input at wildly different parallelism/salting → bitwise-equal
    sorted output (stand-in for N vs 4N executors; the process-level
    local[8]/local[32] evidence lives in scale_bench.py)."""
    sdf = docs_to_spark(spark, docs)
    a = _sorted_pdf(extract_pipeline(sdf.repartition(1), salt_partitions=None))
    b = _sorted_pdf(extract_pipeline(sdf.repartition(64), salt_partitions=48))
    pd.testing.assert_frame_equal(a, b)


def test_resume_with_different_n_buckets_refuses(spark, docs, tmp_path):
    """The committed-bucket set is only meaningful modulo the ORIGINAL
    n_buckets: resuming a half-committed table with a different count
    would silently duplicate docs (re-bucketed moduli re-extract
    covered docs) or drop them (status sees 'all committed' while high
    buckets never ran). The first run records the count durably; a
    mismatched resume must refuse loudly."""
    out = str(tmp_path / "out")
    sdf = docs_to_spark(spark, docs)
    pipeline.run(
        spark, sdf, out, n_buckets=8, bucket_group_size=3, max_groups=1
    )
    assert lin.recorded_bucketing(lin.lineage_rows(spark, out)) == 8
    with pytest.raises(ValueError, match="n_buckets=8"):
        pipeline.run(spark, sdf, out, n_buckets=32)
    # the matching count still resumes fine
    res = pipeline.run(spark, sdf, out, n_buckets=8)
    assert res.buckets_skipped == 3 and res.buckets_processed == 5


def test_status_uses_durable_bucket_count(spark, docs, tmp_path):
    """A poller that guesses the wrong n_buckets must still get the
    correct verdict: the durable bucketing row overrides the param
    (a table complete at 4/4 previously reported 'completed' to a
    n_buckets=2 guesser even when half-done, and 'processing' forever
    to a n_buckets=32 guesser)."""
    out = str(tmp_path / "out")
    pipeline.run(spark, docs_to_spark(spark, docs), out, n_buckets=4)
    for guess in (2, 4, 32):
        st = pipeline.status(spark, out, n_buckets=guess)
        assert st.status == "completed", guess
        assert st.buckets_total == 4, guess


def test_run_zero_groups_on_fresh_dir_returns_zeros(spark, docs, tmp_path):
    """max_groups=0 (the killed-before-first-commit simulation) on a
    fresh output dir must return a zeroed RunResult, not raise on the
    missing lineage table."""
    out = str(tmp_path / "out")
    res = pipeline.run(
        spark, docs_to_spark(spark, docs), out, n_buckets=8, max_groups=0
    )
    assert res.buckets_processed == 0
    assert res.doc_count == 0 and res.span_count == 0


def test_read_output_merges_mixed_file_schemas(spark, docs, tmp_path):
    """A table committed partly before and partly after the error_code
    column existed must read back with the REAL codes preserved —
    without mergeSchema, Spark infers from one sampled footer and a
    legacy sample silently nulls error_code for every row."""
    out = str(tmp_path / "out")
    sdf = docs_to_spark(spark, docs)
    pipeline.run(spark, sdf, out, n_buckets=2)
    # doctor a legacy commit: a data file WITHOUT error_code plus its
    # lineage row (what a pre-error_code writer left behind)
    legacy_dir = str(tmp_path / "out/data/legacy-g00099")
    spark.createDataFrame(
        [("legacy-doc", 0, "text", "alt", "", None)],
        "doc_id string, order int, kind string, text string, "
        "media_ref string, error string",
    ).coalesce(1).write.parquet(legacy_dir)
    legacy_files = sorted(
        f"legacy-g00099/{n}" for n in lin._list_dir_files(spark, legacy_dir)
    )
    lin.append_lineage(
        spark,
        out,
        [("legacy", 99, 1, 1, 0, "committed", "1970-01-01T00:00:01Z",
          legacy_files)],
    )
    got = pipeline.read_output(spark, out).toPandas()
    assert "legacy-doc" in set(got["doc_id"])
    # real error_code values from the NEW files survive the merge
    want = golden_extract(docs)
    n_codes = int(want["error"].notna().sum())
    if n_codes:
        assert int(got["error_code"].notna().sum()) == n_codes
    assert got.loc[got.doc_id == "legacy-doc", "error_code"].isna().all()


def test_conflicting_bucketing_rows_raise(spark, docs, tmp_path):
    """record_bucketing is check-then-write; two concurrent FIRST runs
    can both append a 'bucketing' row. Same recorded count: the table
    is fine and the earliest row wins silently. DIFFERENT counts: the
    committed set is ambiguous modulo two moduli and every resume path
    must refuse loudly rather than adopt either."""
    out = str(tmp_path / "out")
    lin.record_bucketing(spark, out, 8, "run-a", "2026-01-01T00:00:00Z")
    lin.record_bucketing(spark, out, 8, "run-b", "2026-01-02T00:00:00Z")
    assert lin.recorded_bucketing(lin.lineage_rows(spark, out)) == 8  # agreeing twins OK
    lin.record_bucketing(spark, out, 32, "run-c", "2026-01-03T00:00:00Z")
    with pytest.raises(ValueError, match="conflicting 'bucketing'"):
        lin.recorded_bucketing(lin.lineage_rows(spark, out))
    with pytest.raises(ValueError, match="conflicting 'bucketing'"):
        pipeline.run(spark, docs_to_spark(spark, docs), out, n_buckets=8)


def test_lineage_append_mixes_with_spark_written_files(spark, docs, tmp_path):
    """The driver-side pyarrow manifest write (round-4 commit path) must
    interoperate file-for-file with Spark-written lineage parquet: a
    directory containing both kinds reads back as one table with
    identical row content through the schema-enforced reader."""
    out = str(tmp_path / "out")
    # driver-side path (posix default)
    lin.append_lineage(
        spark, out,
        [("snap-a", 0, 10, 20, 1, "committed", "2026-01-01T00:00:00Z",
          ["snap-a-g00000/part-0.parquet"])],
    )
    # force the Spark write path for the second row (what an hdfs://
    # or s3a:// deployment would produce)
    from german_ocr_spark.schema import LINEAGE_SCHEMA

    spark.createDataFrame(
        [("snap-b", 1, 30, 40, 0, "committed", "2026-01-02T00:00:00Z",
          ["snap-b-g00001/part-0.parquet"])],
        schema=LINEAGE_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(lin.lineage_path(out))

    rows = {
        r.snapshot_id: r
        for r in lin.read_lineage(spark, out).collect()
    }
    assert set(rows) == {"snap-a", "snap-b"}
    assert rows["snap-a"].doc_count == 10
    assert rows["snap-a"].files == ["snap-a-g00000/part-0.parquet"]
    assert rows["snap-b"].span_count == 40
    # and the committed-files resolver unions across both writers
    files = lin.committed_files(spark, out)
    assert {f.split("/")[-2] for f in files} == {
        "snap-a-g00000", "snap-b-g00001"
    }


def test_staged_multi_group_run_matches_persist_path(spark, docs, tmp_path):
    """stage_dir (the 10^12-doc path for fine-grained runs: one
    bucket-partitioned staging write, per-group partition-pruned reads,
    no executor-memory persist) must produce the identical table,
    resume identically, prune its per-group scans, and clean the
    staging copy up on completion."""
    import os as _os

    out_p = str(tmp_path / "out_persist")
    out_s = str(tmp_path / "out_staged")
    stage = str(tmp_path / "stage")
    sdf = docs_to_spark(spark, docs)

    pipeline.run(spark, sdf, out_p, n_buckets=8, bucket_group_size=3)
    # killed-after-first-group simulation on the staged path, then resume
    pipeline.run(spark, sdf, out_s, n_buckets=8, bucket_group_size=3,
                 max_groups=1, stage_dir=stage)
    res = pipeline.run(spark, sdf, out_s, n_buckets=8,
                       bucket_group_size=3, stage_dir=stage)
    assert res.buckets_skipped == 3 and res.buckets_processed == 5

    a = _sorted_pdf(pipeline.read_output(spark, out_p))
    b = _sorted_pdf(pipeline.read_output(spark, out_s))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # staging dir removed after the successful completing run
    assert not _os.path.exists(stage)

    # the per-group read actually partition-prunes: re-stage and check
    # the scan of one group's subset carries a bucket partition filter
    sdf.withColumn("bucket_id", lin.bucket_col(8)).write.mode(
        "overwrite"
    ).partitionBy("bucket_id").parquet(stage)
    staged = spark.read.parquet(stage)
    plan = (
        staged.filter(F.col("bucket_id").isin([0, 1, 2]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket_id" in plan


def test_local_posix_path_resolves_via_hadoop_fs(spark, tmp_path):
    """The manifest-write classifier must decide local-vs-cluster from
    the RESOLVED Hadoop filesystem, not from string-parsing: a
    scheme-less path follows fs.defaultFS (file:/// in tests, hdfs://
    on a real cluster), and any path that does not land on the local
    FS must return None so the Spark write — which always resolves
    correctly — is used (round-4 ADVICE finding)."""
    p = str(tmp_path / "t" / "_lineage")
    assert lin._local_posix_path(spark, p) == p  # defaultFS is file:///
    assert lin._local_posix_path(spark, "file:" + p) == p
    # an explicitly non-local scheme never takes the posix fast path
    assert lin._local_posix_path(spark, "hdfs://nn:8020/t/_lineage") is None
    # unresolvable scheme (no s3a jar in sandbox) degrades to None,
    # never raises — the Spark path is correct for it too
    assert lin._local_posix_path(spark, "s3a://bucket/t/_lineage") is None


def test_staged_run_with_empty_corpus(spark, tmp_path):
    """An empty corpus under an explicit multi-group bucket_group_size
    takes the stage_dir branch with a ZERO-row staged write; reading
    the stage back must use the known schema instead of footer
    inference (which has nothing to infer from) so the run completes
    exactly like the persist() path does on the same input (round-4
    ADVICE finding)."""
    out = str(tmp_path / "out")
    stage = str(tmp_path / "stage")
    empty = docs_to_spark(spark, [])
    res = pipeline.run(
        spark, empty, out, n_buckets=4, bucket_group_size=2,
        stage_dir=stage,
    )
    assert res.buckets_processed == 4
    assert pipeline.read_output(spark, out).count() == 0
    assert pipeline.status(spark, out).status == "completed"
