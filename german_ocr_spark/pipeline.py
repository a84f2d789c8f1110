"""Top-level pipeline driver (SURVEY §3.1 re-expression of
``CloudClient.analyze`` = submit + wait): plan buckets → execute the
extraction stages per bucket group → commit lineage → return metrics.

``run()`` is what ``spark-submit --py-files german_ocr_spark.zip job.py``
invokes on a real cluster; locally it runs identically on ``local[N]``.
Resume: a rerun over the same ``output_dir`` skips committed buckets
(reference job-resume semantics, ``cloud_client.py:415-462``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract import ordered_span_rows, run_extract
from .plans import lineage as lin


@dataclass
class RunResult:
    snapshot_id: str
    buckets_total: int
    buckets_processed: int
    buckets_skipped: int
    doc_count: int
    span_count: int
    error_count: int


@dataclass
class JobProgress:
    """A16 progress payload, delivered to ``run(on_progress=...)`` after
    every commit group — the engine-side analog of the reference's
    ``wait_for_result(on_progress=...)`` callback stream
    (``cloud_client.py:436-462``: current_page/total_pages/phase).
    Counts are cumulative across this run's committed groups."""

    snapshot_id: str
    phase: str
    buckets_done: int
    buckets_total: int
    doc_count: int
    span_count: int
    error_count: int


class RunCancelled(RuntimeError):
    """Raised by ``run`` when ``cancel`` aborted it between commit
    groups (in-flight groups die from ``cancelJobGroup`` directly)."""


# job groups cancelled in this process: cancelJobGroup only kills
# IN-FLIGHT jobs, so the run loop consults this before launching the
# next group's jobs. The durable cancellation record is the lineage
# control row (lin.mark_cancelled).
_cancelled_groups: set[str] = set()


@dataclass
class JobStatus:
    """A15/A16 status snapshot derived from the lineage table — the
    analog of the reference's ``JobStatus`` dataclass
    (``cloud_client.py:72-104``: job_id/status/current_page/total_pages).
    ``status`` ∈ {pending, processing, completed, cancelled}."""

    job_id: str
    status: str
    buckets_done: int
    buckets_total: int
    doc_count: int
    span_count: int
    error_count: int


def run(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    n_buckets: int = lin.N_BUCKETS_DEFAULT,
    bucket_group_size: int | None = None,
    salt_partitions: int | None = None,
    snapshot_id: str = "snap-0001",
    committed_at: str = "1970-01-01T00:00:00Z",
    max_groups: int | None = None,
    on_progress: Callable[[JobProgress], None] | None = None,
    stage_dir: str | None = None,
) -> RunResult:
    """Extract ``docs`` (doc_id, spans) into ``output_dir`` with
    checkpointed bucket commits.

    bucket_group_size: buckets per commit (default: all pending in one
        commit). Smaller groups = finer-grained resume, more jobs.
    max_groups: stop after N commit groups (used by tests to simulate a
        killed job; a real kill anywhere leaves the same on-disk states).
    committed_at: injected timestamp — never wall-clock (determinism).
    on_progress: called after every commit group with cumulative counts
        (A16); lineage rows land at the same moments, so an independent
        reader polling ``status()`` sees the same monotone stream.
    stage_dir: the 100 TB path for fine-grained (multi-group) runs.
        Default (None) caches the bucketed scan via ``persist()`` — fine
        when the corpus fits cluster storage, impossible at 10^12 docs.
        With a path, the bucketed corpus is written ONCE,
        bucket-partitioned, to ``stage_dir`` (object-store capable), and
        every commit group reads back only its buckets via partition
        pruning — the one-scan property without any executor-memory
        footprint, at the price of one staging write (the standard
        shuffle-to-storage trade every warehouse staging layer makes).
        The staging dir is removed on successful completion and is safe
        to delete after a kill (a rerun rebuilds it from ``docs``).
        Single-group runs never need staging (the corpus is scanned
        once regardless).

    All jobs run under the ``lin.job_group_id(snapshot_id)`` job group,
    so ``cancel(spark, output_dir, snapshot_id)`` from another thread
    aborts the run mid-flight (A17).

    Lineage is read ONCE, at the start: bucket pinning, the pending
    set and the cancel arithmetic fold that snapshot, and the
    ``RunResult`` totals are its committed totals plus what this run's
    own commit groups wrote. That is exact under the single-writer
    contract (``plans.lineage``). Commits that a concurrent writer with
    a DISTINCT snapshot_id lands while this run is in flight are not in
    the returned totals or ``buckets_skipped`` (and this run does not
    skip their buckets, as before), so afterwards ``status()`` is the
    authoritative view.
    """
    lineage = lin.lineage_rows(spark, output_dir)
    # Bucket-count pinning: the committed-bucket set is only meaningful
    # modulo the ORIGINAL n_buckets. Resuming with a different value
    # silently duplicates docs (new buckets re-extract already-covered
    # docs) or drops them (status sees "all committed" while high
    # buckets never ran) — refuse loudly instead. First run on a table
    # records the count durably; legacy tables adopt this run's value.
    recorded = lin.recorded_bucketing(lineage)
    if recorded is None:
        lin.record_bucketing(
            spark, output_dir, n_buckets, snapshot_id, committed_at
        )
    elif recorded != n_buckets:
        raise ValueError(
            f"output table {output_dir!r} is bucketed with "
            f"n_buckets={recorded}; resume must use the same value "
            f"(got {n_buckets})"
        )
    done = lin.committed_buckets(lineage)
    pending = [b for b in range(n_buckets) if b not in done]
    if bucket_group_size is None:
        bucket_group_size = max(len(pending), 1)

    docs_b = docs.withColumn("bucket_id", lin.bucket_col(n_buckets))
    groups = [
        pending[i : i + bucket_group_size]
        for i in range(0, len(pending), bucket_group_size)
    ]
    if max_groups is not None:
        groups = groups[:max_groups]

    gid = lin.job_group_id(snapshot_id)
    _cancelled_groups.discard(gid)  # a fresh run supersedes old intent
    # durably clear outstanding cancel intent so a poller doesn't see a
    # live resumed run as 'cancelled' (one 'resumed' row per unmatched
    # 'cancelled' row; see lin.mark_resumed)
    outstanding = lin.outstanding_cancels(lineage)
    if groups and outstanding > 0:
        lin.mark_resumed(
            spark, output_dir, snapshot_id, committed_at, n=outstanding
        )
    sc = spark.sparkContext
    sc.setJobGroup(
        gid,
        f"german-ocr-spark extract {snapshot_id}",
        interruptOnCancel=True,
    )
    # Fine-grained resume must not rescan the full corpus once per
    # commit group: materialize the bucketed scan once and let every
    # group filter the materialized copy. Two materializations exist —
    # persist() (default; corpus must fit cluster storage) and the
    # bucket-partitioned staging write (stage_dir; the 10^12-doc path,
    # where each group's read partition-prunes to exactly its buckets).
    persisted = staged = False
    if len(groups) > 1:
        if stage_dir is not None:
            # a resume stages only the pending buckets — committed
            # ones are never read again
            docs_b.filter(
                F.col("bucket_id").isin(pending)
            ).write.mode("overwrite").partitionBy(
                "bucket_id"
            ).parquet(stage_dir)
            # explicit schema: a pending-bucket filter that wrote ZERO
            # rows (empty corpus under a multi-group bucket_group_size)
            # leaves no footer to infer from — schema inference would
            # fail the whole run where the persist() path handles the
            # same input fine (round-4 ADVICE finding)
            docs_b = spark.read.schema(docs_b.schema).parquet(stage_dir)
            staged = True
        else:
            docs_b = docs_b.persist()
            persisted = True
    try:
        processed = 0
        cum_d = cum_s = cum_e = 0
        for group in groups:
            if gid in _cancelled_groups:
                raise RunCancelled(
                    f"run {snapshot_id} cancelled after "
                    f"{processed}/{len(groups) and sum(map(len, groups))} "
                    "buckets"
                )
            subset = docs_b.filter(F.col("bucket_id").isin(group))
            rows = ordered_span_rows(subset.drop("bucket_id"))
            extracted = run_extract(rows, salt_partitions=salt_partitions)
            extracted = extracted.withColumn(
                "bucket_id", lin.bucket_col(n_buckets)
            )
            d, s, e = lin.commit_bucket_group(
                spark, extracted, output_dir, group, snapshot_id, committed_at
            )
            processed += len(group)
            cum_d, cum_s, cum_e = cum_d + d, cum_s + s, cum_e + e
            if on_progress is not None:
                on_progress(
                    JobProgress(
                        snapshot_id=snapshot_id,
                        phase="extract",
                        buckets_done=len(done) + processed,
                        buckets_total=n_buckets,
                        doc_count=cum_d,
                        span_count=cum_s,
                        error_count=cum_e,
                    )
                )
    finally:
        if persisted:
            docs_b.unpersist()
        sc.setJobGroup("", "")
    if staged:
        # all groups committed — the staging copy is dead weight now.
        # Best-effort via the Hadoop FS API (works on object stores);
        # a leftover dir after a crash is harmless (rerun overwrites).
        try:
            fs, p = lin._hadoop_fs(spark, stage_dir)
            fs.delete(p, True)
        except Exception:
            pass

    d0, s0, e0 = lin.committed_totals(lineage)
    return RunResult(
        snapshot_id=snapshot_id,
        buckets_total=n_buckets,
        buckets_processed=processed,
        buckets_skipped=len(done),
        doc_count=d0 + cum_d,
        span_count=s0 + cum_s,
        error_count=e0 + cum_e,
    )


def cancel(
    spark: SparkSession,
    output_dir: str,
    snapshot_id: str = "snap-0001",
    cancelled_at: str = "1970-01-01T00:00:00Z",
) -> bool:
    """A17 job cancel (reference ``cancel_job``,
    ``cloud_client.py:399-413``): abort all in-flight Spark jobs of the
    run's job group and record a ``cancelled`` lineage control row.
    Returns True on success; any failure is swallowed to False (the
    reference's DELETE-swallowing contract). Already-committed buckets
    stay committed — ``read_output`` never sees the killed group's
    orphan files, and a later ``run`` resumes from the cut point."""
    try:
        gid = lin.job_group_id(snapshot_id)
        spark.sparkContext.cancelJobGroup(gid)
        _cancelled_groups.add(gid)
        lin.mark_cancelled(spark, output_dir, snapshot_id, cancelled_at)
        return True
    except Exception:
        return False


def status(
    spark: SparkSession,
    output_dir: str,
    n_buckets: int = lin.N_BUCKETS_DEFAULT,
) -> JobStatus:
    """A15/A16 status poll over the lineage table (reference
    ``get_job``): pending (nothing committed), processing, completed
    (all buckets committed), or cancelled (a cancel control row exists
    and the run never completed)."""
    return status_of(lin.lineage_rows(spark, output_dir), n_buckets)


def status_of(rows: list[lin.LineageRow], n_buckets: int) -> JobStatus:
    """The status fold over lineage rows — shared by ``status`` and
    ``client.get_usage``, so both report the same verdict. The durable
    bucket count (``record_bucketing``) overrides ``n_buckets``, so a
    poller never needs the original value for a correct completed
    verdict."""
    marks = [r.doc_count for r in rows if r.status == "bucketing" and r.doc_count is not None]
    if marks:
        n_buckets = int(max(marks))
    buckets_done = len(
        {r.bucket_id for r in rows if r.status == "committed" and r.bucket_id is not None}
    )
    d, s, e = lin.committed_totals(rows)
    # cancelled iff cancel rows outnumber resume rows (a resumed run
    # durably clears intent at start — see lin.mark_resumed)
    if buckets_done >= n_buckets:
        st = "completed"
    elif lin.outstanding_cancels(rows) > 0:
        st = "cancelled"
    elif buckets_done > 0:
        st = "processing"
    else:
        st = "pending"
    return JobStatus(
        job_id=max((r.snapshot_id for r in rows if r.snapshot_id is not None), default=""),
        status=st,
        buckets_done=buckets_done,
        buckets_total=n_buckets,
        doc_count=d,
        span_count=s,
        error_count=e,
    )


def read_output(
    spark: SparkSession, output_dir: str, as_of: str | None = None
) -> DataFrame:
    """Extracted spans, shaped like operators.extract.EXTRACT_DDL.

    Manifest-resolved read (the Iceberg snapshot-read model): the scan
    is given exactly the data files referenced by committed lineage
    rows, so orphan files from killed uncommitted writes are invisible
    without any cleanup pass.

    ``as_of``: time-travel read — the table as of that ``committed_at``
    timestamp (inclusive), before any later delete/upsert/compaction;
    the audit surface for "what did the training run actually read".
    Valid until ``vacuum`` (see ``lineage.committed_files``)."""
    files = lin.committed_files(spark, output_dir, as_of=as_of)
    if not files:
        from .schema import EXTRACTED_SPAN_SCHEMA

        return spark.createDataFrame([], schema=EXTRACTED_SPAN_SCHEMA)
    # mergeSchema: a table committed partly before and partly after the
    # error_code column existed mixes file schemas; without the merge,
    # Spark infers from ONE sampled footer and — if it samples a legacy
    # file — silently nulls error_code for every row, including rows
    # whose files carry real codes (file-order-dependent reads).
    df = spark.read.option("mergeSchema", "true").parquet(*files)
    if "error_code" not in df.columns:
        # tables where EVERY file predates error_code stay readable
        df = df.withColumn("error_code", F.lit(None).cast("string"))
    return df.select(
        "doc_id", "order", "kind", "text", "media_ref", "error", "error_code"
    )
