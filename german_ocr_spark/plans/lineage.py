"""Checkpoint/resume + per-partition lineage (SURVEY B15, A15-A18).

Spark-native re-expression of the reference's async job lifecycle
(``german_ocr/cloud_client.py:320-462``: submit → poll JobStatus
(pending/processing/completed/failed) → resume/cancel): a run is split
into deterministic *buckets* (``pmod(xxhash64(doc_id), n_buckets)`` — an
Iceberg ``bucket(N, doc_id)`` partition transform emulated on plain
parquet). Each committed bucket appends a lineage row; a rerun skips
committed buckets and processes only the remainder. ``JobStatus.status``
maps to lineage ``status``; ``current_page/total_pages`` progress maps to
committed-bucket counts.

Output layout:
    <out>/data/*.parquet                   extracted spans (flat files)
    <out>/_lineage/*.parquet               lineage rows (append-only)

Atomicity (file-manifest commit — the Iceberg model on plain parquet):
the lineage row IS the commit point and carries the exact list of data
files its commit group wrote. Readers resolve committed data by
unioning those file lists — never by listing the directory — so a
killed job's orphan files are simply invisible, no cleanup or staging
move needed, and the data write itself requires NO shuffle or
partitioned layout: map tasks append files directly. ``vacuum`` deletes
unreferenced files opportunistically.

Lineage is driver-side state in BOTH directions (the Delta Lake
log-replay model): ``append_lineage`` writes one file per commit and
``lineage_rows`` reads the whole table once, each deciding local vs
cluster filesystem once through ``_local_posix_path``. Everything a
caller asks of the table — recorded bucket count, committed buckets,
outstanding cancels, committed totals, the live file set as of a
stamp, snapshot-id reuse, the next mutation stamp, job status — is a
pure Python fold over those rows. A public call reads once and folds
as often as it needs; on a local path no Spark job ever touches
``_lineage``.

Object-store safety: each commit group writes into its OWN subdirectory
``data/<snapshot>-g<first_bucket>/`` and its manifest is the listing of
that exclusively-owned directory via the Hadoop FileSystem API (which
resolves to local FS, HDFS, s3a, gs, ... from the path scheme) — there
is no before/after diff of a shared directory.

Concurrency contract: a ``snapshot_id`` is a SINGLE-WRITER token.
Writers with DISTINCT snapshot_ids never touch each other's subdirs or
manifests and are fully safe concurrently. Two live writers sharing one
snapshot_id is double submission — the same conflict an Iceberg
optimistic commit would reject — and its outcome is undefined here
(the overwrite that lets a rerun self-clean a killed attempt's orphans
would clobber the racing twin's files). Resume after a kill or cancel
is the supported single-writer rerun path.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import NamedTuple

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import LINEAGE_SCHEMA

N_BUCKETS_DEFAULT = 32

# lineage bucket_id used by job-control rows (cancel intent), which do
# not correspond to any data bucket
CONTROL_BUCKET = -1

# statuses of the rows plans.compact / delete / upsert append; each
# carries a file list, like a "committed" row
MUTATION_STATUSES = ("compacted", "rewritten", "upserted", "replaced")

# LINEAGE_SCHEMA field for field, as written and read driver-side, so
# one directory mixes pyarrow-written and Spark-written files (Spark's
# list element name "element" reads back as this list type)
_ARROW_SCHEMA = pa.schema(
    [
        pa.field("snapshot_id", pa.string()),
        pa.field("bucket_id", pa.int32()),
        pa.field("doc_count", pa.int64()),
        pa.field("span_count", pa.int64()),
        pa.field("error_count", pa.int64()),
        pa.field("status", pa.string()),
        pa.field("committed_at", pa.string()),
        pa.field("files", pa.list_(pa.string())),
    ]
)


class LineageRow(NamedTuple):
    """One lineage row, in LINEAGE_SCHEMA order; the unit every fold
    below consumes."""

    snapshot_id: str
    bucket_id: int
    doc_count: int | None
    span_count: int | None
    error_count: int | None
    status: str | None
    committed_at: str | None
    files: list[str] | None


def bucket_col(n_buckets: int):
    # xxhash64 can be negative; pmod keeps the bucket in [0, n).
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")


def lineage_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_lineage")


def data_path(output_dir: str) -> str:
    return os.path.join(output_dir, "data")


def job_group_id(snapshot_id: str) -> str:
    """Spark job-group name under which a run's jobs execute — the
    cancellation handle (SURVEY A17; reference job_id,
    cloud_client.py:399-413)."""
    return f"german-ocr-spark::{snapshot_id}"


# ------------------------------------------------------ Hadoop FS access
def _hadoop_fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _list_dir_files(spark: SparkSession, d: str) -> set[str]:
    """Parquet file NAMES directly inside ``d`` (non-recursive), via the
    Hadoop FS API so the same code serves local FS and object stores."""
    fs, p = _hadoop_fs(spark, d)
    if not fs.exists(p):
        return set()
    return {
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    }


def _list_data_files(spark: SparkSession, output_dir: str) -> set[str]:
    """All parquet files under data/, as paths RELATIVE to data/
    (commit subdirs and legacy flat files alike), recursively via the
    Hadoop FS API."""
    fs, p = _hadoop_fs(spark, data_path(output_dir))
    if not fs.exists(p):
        return set()
    base = fs.makeQualified(p).toString()
    out: set[str] = set()
    it = fs.listFiles(p, True)
    while it.hasNext():
        path = it.next().getPath().toString()
        if path.endswith(".parquet"):
            out.add(path[len(base) + 1 :])
    return out


def _append_lineage_local(path: str, rows: list) -> None:
    """Driver-side manifest write: one parquet file materialized with
    pyarrow and published by an atomic rename (dot-prefixed temp names
    are invisible to both readers until the rename)."""
    import uuid

    cols = list(zip(*rows)) if rows else [[] for _ in _ARROW_SCHEMA]
    table = pa.table(
        {f.name: pa.array(c, type=f.type) for f, c in zip(_ARROW_SCHEMA, cols)}
    )
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, os.path.join(path, name))


def _local_posix_path(spark: SparkSession, path: str) -> str | None:
    """Resolve ``path`` through the session's Hadoop filesystem and
    return its posix path IFF it lands on the local FS, else None.

    This is the one classifier deciding driver-side pyarrow lineage
    writes and reads vs cluster Spark ones, and it must agree with how
    Spark itself resolves the same string: ``Path.getFileSystem``
    applies ``fs.defaultFS`` to scheme-less paths exactly as every
    reader does. Any resolution failure returns None — the Spark path
    is always correct, just slower."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.getScheme() != "file":
            return None
        return fs.makeQualified(jpath).toUri().getPath()
    except Exception:
        return None


def append_lineage(spark: SparkSession, output_dir: str, rows: list) -> None:
    """THE one spelling of a lineage append (rows of LINEAGE_SCHEMA,
    one file per append) — every commit point in this module and in
    plans.compact / plans.delete / plans.upsert goes through here, so
    commit mechanics (schema evolution, write options) change in
    exactly one place.

    Commit metadata is DRIVER-side state, so on a local/posix path the
    row is written directly with pyarrow + atomic rename — the Iceberg
    model, where manifest writes are library calls, never cluster
    jobs. ``lineage_rows`` is the read half of the same model: one
    driver-side pyarrow read per public call, folded in Python, so a
    local table never costs a Spark job on either side. Non-posix
    paths (hdfs://, s3a://, ...) keep the one-task Spark write (and
    the one Spark ``collect()`` read), which resolve the scheme
    through the cluster's Hadoop FS.

    Local-vs-cluster is decided by the RESOLVED Hadoop filesystem —
    never by string-parsing the path: a scheme-less path resolves
    through ``fs.defaultFS``, so on a cluster with
    ``defaultFS=hdfs://`` it is NOT local, and a urlparse-based check
    would write manifests to driver-local disk while readers resolve
    them through HDFS — commits silently invisible, resume
    reprocessing everything (round-4 ADVICE finding). Writer and
    reader share ``_local_posix_path``, so they always agree."""
    path = lineage_path(output_dir)
    local = _local_posix_path(spark, path)
    if local is not None:
        _append_lineage_local(local, rows)
        return
    spark.createDataFrame(rows, schema=LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def record_bucketing(
    spark: SparkSession,
    output_dir: str,
    n_buckets: int,
    snapshot_id: str,
    at: str,
) -> None:
    """Durably record the table's bucket count (a ``bucketing`` control
    row carrying n_buckets in ``doc_count``). Written once, by the
    first run that touches the table: ``pipeline.run`` refuses to
    resume with a different n_buckets, because re-bucketing a
    half-committed table silently duplicates or drops documents (the
    committed set is interpreted modulo the NEW count)."""
    append_lineage(
        spark,
        output_dir,
        [(snapshot_id, CONTROL_BUCKET, n_buckets, 0, 0, "bucketing", at, [])],
    )


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    """The lineage table as a Spark DataFrame — the cluster-filesystem
    half of ``lineage_rows``."""
    return spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path(output_dir))


def lineage_rows(spark: SparkSession, output_dir: str) -> list[LineageRow]:
    """Every lineage row of the table, read ONCE on the driver; a
    missing ``_lineage`` dir is a fresh table and gives ``[]``.

    Same single local/cluster decision as ``append_lineage``. On a
    local path: one ``pyarrow.dataset`` read against the Arrow mirror
    of LINEAGE_SCHEMA — its default ``ignore_prefixes`` (``.``/``_``)
    hides in-flight ``.part-*.tmp`` files, ``_SUCCESS`` and ``.crc``
    files exactly as Spark's reader does, and no Spark job runs (so
    no ``All paths were ignored`` warning and no missing-path stack
    trace either). Elsewhere: one ``read_lineage(...).collect()``,
    after a Hadoop-FS existence check that keeps a fresh table from
    raising. Row order is unspecified; every fold is order-free."""
    path = lineage_path(output_dir)
    local = _local_posix_path(spark, path)
    if local is not None:
        if not os.path.isdir(local):
            return []
        table = pads.dataset(local, format="parquet", schema=_ARROW_SCHEMA).to_table()
        return [LineageRow(*r) for r in zip(*(c.to_pylist() for c in table.columns))]
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [LineageRow(*r) for r in read_lineage(spark, output_dir).collect()]


# ------------------------------------------------------- folds over rows
def recorded_bucketing(rows: list[LineageRow]) -> int | None:
    """The durably recorded bucket count, or None for a fresh/legacy
    table (legacy tables adopt the next run's value).

    record_bucketing is check-then-write (no FS-level atomicity), so two
    concurrent FIRST runs can both append a ``bucketing`` row. Resolve
    deterministically — the row with the smallest
    (committed_at, snapshot_id) wins — and raise when the surviving rows
    disagree on the count: a table whose committed buckets were written
    modulo two different n_buckets is corrupt, and adopting either count
    silently duplicates or drops documents on resume."""
    marks = [r for r in rows if r.status == "bucketing"]
    if not marks:
        return None
    counts = {int(r.doc_count) for r in marks}
    if len(counts) > 1:
        raise ValueError(
            "conflicting 'bucketing' lineage rows record distinct bucket "
            f"counts {sorted(counts)}: concurrent first runs raced "
            "record_bucketing; the table's committed set is ambiguous and "
            "must be repaired manually"
        )
    first = min(marks, key=lambda r: (r.committed_at, r.snapshot_id))
    return int(first.doc_count)


def committed_buckets(rows: list[LineageRow]) -> set[int]:
    return {r.bucket_id for r in rows if r.status == "committed"}


def committed_totals(rows: list[LineageRow]) -> tuple[int, int, int]:
    """``(doc_count, span_count, error_count)`` summed over committed
    rows (nulls count as 0)."""
    com = [r for r in rows if r.status == "committed"]
    return (
        sum(r.doc_count or 0 for r in com),
        sum(r.span_count or 0 for r in com),
        sum(r.error_count or 0 for r in com),
    )


def outstanding_cancels(rows: list[LineageRow]) -> int:
    """Cancel rows not yet matched by resume rows (see ``mark_resumed``:
    the relationship is arithmetic, not positional)."""
    n = Counter(r.status for r in rows)
    return n["cancelled"] - n["resumed"]


def live_files(rows: list[LineageRow], as_of: str | None = None) -> list[str]:
    """Sorted data/-relative names of the files a reader sees: the
    union of files referenced by committed lineage rows — the
    manifest-resolved view of the table (orphans invisible). Files
    referenced by ``replaced`` rows (written by ``plans.compact`` /
    ``plans.delete`` / ``plans.upsert`` in the same atomic append as
    their ``compacted`` / ``rewritten`` / ``upserted`` replacement)
    are shadowed: a reader sees exactly one of {old layout, new
    layout}.

    ``as_of``: time travel — resolve the manifest as of this
    ``committed_at`` timestamp (inclusive). Lineage appends after it,
    including the ``replaced`` shadowing of later compactions /
    deletes / upserts, are ignored, so the returned layout is exactly
    what a reader saw then (Iceberg snapshot-as-of). Valid until
    ``vacuum`` physically reclaims files the CURRENT manifest no
    longer references — vacuum is the snapshot-expiry boundary."""
    live: set[str] = set()
    shadowed: set[str] = set()
    for r in rows:
        if not r.files or (r.status != "committed" and r.status not in MUTATION_STATUSES):
            continue
        if as_of is not None and (r.committed_at is None or r.committed_at > as_of):
            continue
        (shadowed if r.status == "replaced" else live).update(r.files)
    return sorted(live - shadowed)


def committed_files(
    spark: SparkSession, output_dir: str, as_of: str | None = None
) -> list[str]:
    """Full paths of ``live_files`` — the files a read of the table
    (as of ``as_of``) scans."""
    d = data_path(output_dir)
    return [
        os.path.join(d, f) for f in live_files(lineage_rows(spark, output_dir), as_of)
    ]


def vacuum(spark: SparkSession, output_dir: str) -> list[str]:
    """Delete data files not referenced by any committed lineage row
    (orphans from killed uncommitted writes). Safe for READERS at any
    time (they only ever see manifest-referenced files), but requires
    WRITER quiescence: every commit writes data first and appends its
    lineage row after, so a vacuum racing an in-flight commit would see
    the new subdir as unreferenced and delete it before the row lands.
    Run vacuum only with no writers in flight (the Iceberg
    expire-snapshots operational rule). Uses the Hadoop FS API, so it
    works against object stores as well as local runs."""
    d = data_path(output_dir)
    referenced = set(live_files(lineage_rows(spark, output_dir)))
    fs, _ = _hadoop_fs(spark, d)
    removed = []
    for rel in sorted(_list_data_files(spark, output_dir) - referenced):
        fs.delete(spark._jvm.org.apache.hadoop.fs.Path(f"{d}/{rel}"), False)
        removed.append(rel)
    return removed


def commit_bucket_group(
    spark: SparkSession,
    extracted: DataFrame,
    output_dir: str,
    buckets: list[int],
    snapshot_id: str,
    committed_at: str,
) -> tuple[int, int, int]:
    """Write one bucket group's extracted spans, then its lineage rows.
    Returns the group's ``(doc_count, span_count, error_count)`` totals
    (the A16 progress payload — no extra action needed by callers).

    ``extracted`` must already carry a ``bucket_id`` column and contain
    only rows of ``buckets``, and must include each document's
    complete span set — per-bucket ``doc_count`` is measured as the
    number of ``order == 0`` rows (one per non-empty document), so
    committing a projection that filters out order-0 spans would
    undercount documents (span/error counts stay exact either way).

    The write is shuffle-free (map tasks append flat files) and lands in
    a subdirectory owned exclusively by this (snapshot, group) commit
    (``data/<snapshot>-g<first_bucket>/``): the manifest is the Hadoop-FS
    listing of that one directory, so no shared-directory before/after
    diff exists anywhere and DISTINCT-snapshot writers can never
    contaminate each other's manifests. A snapshot_id is a
    single-writer token — see the module docstring's concurrency
    contract for the double-submission caveat.
    """
    from pyspark.sql import Observation

    # Lineage stats ride on the write action itself (Observation
    # metrics accumulate during the single pass — no second read-back
    # scan of the written data). doc_count = spans with order 0: every
    # document with >=1 span emits exactly one order-0 span, so this
    # equals countDistinct(doc_id) while staying observe-legal.
    obs = Observation()
    metric_cols = []
    for b in buckets:
        in_b = F.col("bucket_id") == b
        metric_cols += [
            F.sum(F.when(in_b & (F.col("order") == 0), 1).otherwise(0)).alias(
                f"d{b}"
            ),
            F.sum(F.when(in_b, 1).otherwise(0)).alias(f"s{b}"),
            F.sum(
                F.when(in_b & F.col("error").isNotNull(), 1).otherwise(0)
            ).alias(f"e{b}"),
        ]
    # mode=overwrite: the subdir is owned by (snapshot, group), so a
    # rerun after a mid-write kill clobbers that attempt's orphans
    # instead of mixing them into this attempt's manifest listing.
    subdir = f"{snapshot_id}-g{min(buckets):05d}"
    extracted.observe(obs, *metric_cols).write.mode("overwrite").parquet(
        os.path.join(data_path(output_dir), subdir)
    )
    new_files = sorted(
        f"{subdir}/{n}"
        for n in _list_dir_files(
            spark, os.path.join(data_path(output_dir), subdir)
        )
    )
    stats = obs.get
    rows = [
        (
            snapshot_id,
            int(b),
            int(stats[f"d{b}"] or 0),
            int(stats[f"s{b}"] or 0),
            int(stats[f"e{b}"] or 0),
            "committed",
            committed_at,
            new_files,
        )
        for b in buckets
    ]
    append_lineage(spark, output_dir, rows)
    return (
        sum(int(stats[f"d{b}"] or 0) for b in buckets),
        sum(int(stats[f"s{b}"] or 0) for b in buckets),
        sum(int(stats[f"e{b}"] or 0) for b in buckets),
    )


def _control_rows(
    spark: SparkSession,
    output_dir: str,
    snapshot_id: str,
    status: str,
    at: str,
    n: int = 1,
) -> None:
    rows = [(snapshot_id, CONTROL_BUCKET, 0, 0, 0, status, at, [])] * n
    append_lineage(spark, output_dir, rows)


def mark_cancelled(
    spark: SparkSession,
    output_dir: str,
    snapshot_id: str,
    cancelled_at: str,
) -> None:
    """Record cancellation INTENT as a lineage control row (A17): data
    written by killed tasks stays orphaned (invisible to manifest
    readers, reclaimed by ``vacuum``); committed buckets remain
    committed, so a later rerun resumes exactly where the cancel cut."""
    _control_rows(spark, output_dir, snapshot_id, "cancelled", cancelled_at)


def mark_resumed(
    spark: SparkSession,
    output_dir: str,
    snapshot_id: str,
    at: str,
    n: int = 1,
) -> None:
    """Clear outstanding cancellation intent: appended by a new ``run``
    that picks the job back up, one 'resumed' row per unmatched
    'cancelled' row. Lineage rows are append-only and unordered, so the
    cancelled/resumed relationship is ARITHMETIC, not positional —
    ``status()`` reports cancelled iff cancelled rows outnumber resumed
    rows (and the job is not complete)."""
    _control_rows(spark, output_dir, snapshot_id, "resumed", at, n=n)


# ------------------------------------------------- mutation safety rails
def assert_snapshot_unused(rows: list[LineageRow], snapshot_id: str) -> None:
    """A mutation snapshot_id is a SINGLE-USE token: its rewrite
    subdirs are deterministic (``<snap>-c/-d/-u...``) and written with
    mode=overwrite, so re-running a mutation under an ALREADY-COMMITTED
    snapshot_id would physically clobber files the manifest still
    references. Callers invoke this immediately before their first
    write (after no-op early returns, so crash-replays that find
    nothing to do never trip it); a crashed attempt that never appended
    lineage passes and self-cleans via the overwrite."""
    if any(
        r.snapshot_id == snapshot_id and r.status in MUTATION_STATUSES
        for r in rows
    ):
        raise ValueError(
            f"snapshot_id {snapshot_id!r} already committed a mutation; "
            "mutation snapshot ids are single-use — pick a new one (reuse "
            "would overwrite manifest-live files)"
        )


def next_committed_at(rows: list[LineageRow]) -> str:
    """Deterministic committed_at for a mutation when the caller did
    not supply one: the lexicographic maximum of all existing stamps
    plus a ``+m`` suffix, so the new commit sorts strictly AFTER every
    commit already in the table (as_of time travel stays correct — an
    epoch-default stamp would make the mutation retroactively visible
    to every historical as_of read). No wall clock: derived purely
    from table state, monotone under repeated application."""
    cur = max((r.committed_at for r in rows if r.committed_at is not None), default=None)
    return f"{cur}+m" if cur else "1970-01-01T00:00:00Z+m"
