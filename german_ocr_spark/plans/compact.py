"""Small-file compaction over the manifest-commit layout (the Iceberg
``RewriteDataFiles`` / Delta ``OPTIMIZE`` bin-pack re-expressed on
plain parquet + lineage manifests).

Why it exists: the write path is deliberately shuffle-free — map tasks
append flat files per commit group (`lineage.commit_bucket_group`) —
so a long-running ingest accumulates many small files, and at 10^12
documents "many" means millions: scan planning, footer reads, and
object-store LIST/GET request counts all degrade linearly in file
count. Compaction rewrites groups of small committed files into
target-sized ones WITHOUT changing a single row, using the same
manifest-commit atomicity as the writer:

- ``plan_compaction`` is a pure, deterministic first-fit bin-pack over
  (file, size) pairs in name order — files already at or above the
  target are left in place (Iceberg's BinPack behaves the same), and
  bins with fewer than ``min_input_files`` inputs are not worth a
  rewrite.
- Each bin is rewritten into its own exclusively-owned subdirectory
  ``data/<snapshot>-c<bin>/`` (the writer's single-writer subdir
  contract), then ONE lineage append commits two rows atomically: a
  ``compacted`` row referencing the new files and a ``replaced`` row
  referencing the old ones. ``lineage.committed_files`` resolves
  (committed ∪ compacted) − replaced, so a reader sees exactly one of
  {old files, new files} at every instant — never both, never neither.
- A crash before the lineage append leaves invisible orphans (the
  manifest never referenced them) that ``vacuum`` reclaims; a crash
  after is a completed compaction. The replaced files themselves
  become unreferenced and are reclaimed by the next ``vacuum`` —
  they are NOT deleted inline, so concurrent readers holding the old
  manifest keep working (Iceberg's snapshot-expiry model).

Scale shape: planning is driver-side over the file manifest (dimension
-sized — this is exactly what Iceberg's planner does); each bin
rewrite is an independent small job reading ~target_bytes, so groups
can run concurrently under separate job groups on a real cluster. Row
content is preserved bit for bit; only the file layout changes.

Concurrency contract: compaction is a writer — run it with the same
single-writer-per-snapshot-id discipline as ``pipeline.run`` and never
concurrently with another compaction of the same table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import lineage as lin

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def plan_compaction(
    sizes: list[tuple[str, int]],
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_input_files: int = 2,
) -> list[list[str]]:
    """Deterministic first-fit bin-pack: walk files in name order,
    accumulate those below ``target_bytes`` into bins that close when
    adding the next file would overflow the target. Returns only bins
    worth rewriting (>= ``min_input_files`` inputs). Pure function —
    unit-tested directly."""
    bins: list[list[str]] = []
    cur: list[str] = []
    cur_sz = 0
    for name, sz in sorted(sizes):
        if sz >= target_bytes:
            continue
        if cur and cur_sz + sz > target_bytes:
            bins.append(cur)
            cur, cur_sz = [], 0
        cur.append(name)
        cur_sz += sz
    if cur:
        bins.append(cur)
    return [b for b in bins if len(b) >= min_input_files]


def _file_sizes(
    spark: SparkSession, data_dir: str, rel_files: list[str]
) -> list[tuple[str, int]]:
    """Sizes of the manifest files, via ONE listStatus per commit
    subdirectory instead of one getFileStatus RPC per file — at the
    million-small-file scale this module targets, per-file driver
    round-trips (object-store HEADs on s3a/gs) stall planning for
    minutes before any rewrite starts; per-directory listings return
    the same lengths in a handful of batched calls."""
    fs, _ = lin._hadoop_fs(spark, data_dir)
    wanted = set(rel_files)
    by_dir: dict[str, list[str]] = {}
    for rel in rel_files:
        by_dir.setdefault(os.path.dirname(rel), []).append(rel)
    sizes: dict[str, int] = {}
    for d in by_dir:
        p = spark._jvm.org.apache.hadoop.fs.Path(
            os.path.join(data_dir, d) if d else data_dir
        )
        if not fs.exists(p):
            continue
        for st in fs.listStatus(p):
            if not st.isFile():
                continue
            rel = os.path.join(d, st.getPath().getName()) if d else st.getPath().getName()
            if rel in wanted:
                sizes[rel] = int(st.getLen())
    missing = wanted - sizes.keys()
    if missing:
        # a manifest-referenced file absent from the listing means the
        # manifest and data diverged (external deletion, partial
        # restore) — planning compaction over the survivors would
        # silently bless the divergence; surface it instead.
        raise FileNotFoundError(
            "committed manifest references data files missing on disk: "
            + ", ".join(sorted(missing)[:10])
            + (f" (+{len(missing) - 10} more)" if len(missing) > 10 else "")
        )
    return [(rel, sizes[rel]) for rel in rel_files]


def compact(
    spark: SparkSession,
    output_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    snapshot_id: str = "compact-0001",
    committed_at: str | None = None,
    min_input_files: int = 2,
) -> dict:
    """Rewrite committed small files into ~``target_bytes`` files.
    Returns ``{"bins": n, "files_in": n, "files_out": n}``. No-op
    (and no lineage append) when nothing qualifies.

    ``snapshot_id`` is single-use (``lineage.assert_snapshot_unused``);
    ``committed_at`` defaults to a derived stamp sorting after every
    existing commit so as_of time travel keeps seeing the
    pre-compaction layout (``lineage.next_committed_at``)."""
    d = lin.data_path(output_dir)
    lineage = lin.lineage_rows(spark, output_dir)
    bins = plan_compaction(
        _file_sizes(spark, d, lin.live_files(lineage)), target_bytes, min_input_files
    )
    if bins:
        lin.assert_snapshot_unused(lineage, snapshot_id)
        if committed_at is None:
            committed_at = lin.next_committed_at(lineage)
    files_in = files_out = 0
    for i, bin_files in enumerate(bins):
        subdir = f"{snapshot_id}-c{i:05d}"
        dest = os.path.join(d, subdir)
        # one small job per bin: read ~target_bytes, write one file.
        # Bins are independent — a real cluster runs them concurrently
        # under separate job groups (Iceberg's rewrite groups do the
        # same); content is untouched, only layout changes.
        # mergeSchema: a bin can mix files of different vintages
        # (pre-error_code commits, upserted files) — without the merge
        # the rewrite adopts ONE sampled footer's schema and silently
        # drops the other files' columns, and vacuum later deletes the
        # only copies (violating the bit-for-bit content contract)
        (
            spark.read.option("mergeSchema", "true")
            .parquet(*(os.path.join(d, f) for f in bin_files))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(dest)
        )
        new_files = sorted(
            f"{subdir}/{n}" for n in lin._list_dir_files(spark, dest)
        )
        # the commit point: ONE append containing both rows — a reader
        # can never see the new files without the old ones shadowed
        rows = [
            (snapshot_id, lin.CONTROL_BUCKET, 0, 0, 0, "compacted",
             committed_at, new_files),
            (snapshot_id, lin.CONTROL_BUCKET, 0, 0, 0, "replaced",
             committed_at, sorted(bin_files)),
        ]
        lin.append_lineage(spark, output_dir, rows)
        files_in += len(bin_files)
        files_out += len(new_files)
    return {"bins": len(bins), "files_in": files_in, "files_out": files_out}
