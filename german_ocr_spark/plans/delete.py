"""Copy-on-write row deletion over the manifest-commit layout (the
Iceberg ``DELETE FROM`` copy-on-write strategy re-expressed on plain
parquet + lineage manifests).

Why it exists: a 10^12-document corpus receives takedown / GDPR
erasure requests against an immutable-file layout. Deleting a handful
of documents must not rewrite the table; it must rewrite ONLY the
files that contain the victims and atomically swap them into the
manifest:

1. Locate affected files with one manifest-resolved scan projecting
   ``input_file_name()`` — predicate pushdown means untouched files
   are pruned by footer stats where possible, and at worst read once.
2. Rewrite just those files minus the deleted doc_ids into a new
   exclusively-owned subdirectory ``data/<snapshot>-d00000/``.
3. Commit ONE lineage append with a ``rewritten`` row (the new files)
   and a ``replaced`` row (the old ones) — the same atomic shadowing
   contract as ``plans.compact``: a reader sees the pre-delete or the
   post-delete table, never a mix. Old files persist for in-flight
   readers until ``vacuum`` reclaims them.

The deletion batch is passed as a list (takedown batches are
dimension-sized); it inlines as an ``isin`` literal so both the
locate scan and the rewrite filter are in-row WholeStageCodegen — for
very large erasure sets the same flow works with a broadcast
anti-join, same plan shape. Crash safety matches the writer: dying
before the lineage append leaves invisible orphans; after, the
delete is complete. Single-writer discipline per the lineage module
docstring applies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import lineage as lin


def delete_docs(
    spark: SparkSession,
    output_dir: str,
    doc_ids: list[str],
    snapshot_id: str = "delete-0001",
    committed_at: str | None = None,
) -> dict:
    """Remove every span of ``doc_ids`` from the committed table by
    rewriting only the affected files. Returns ``{"files_rewritten":
    n, "rows_deleted": n}``; a batch touching nothing is a no-op with
    no lineage append.

    ``snapshot_id`` is single-use (``lineage.assert_snapshot_unused``
    runs after the no-op early returns, so a crash-replay that finds
    its victims already gone never trips it); ``committed_at`` defaults
    to a derived stamp sorting after every existing commit, keeping the
    pre-delete snapshot reachable via as_of time travel."""
    return _delete_docs(
        spark,
        output_dir,
        lin.lineage_rows(spark, output_dir),
        doc_ids,
        snapshot_id,
        committed_at,
    )


def _delete_docs(
    spark: SparkSession,
    output_dir: str,
    rows: list[lin.LineageRow],
    doc_ids: list[str],
    snapshot_id: str,
    committed_at: str | None,
) -> dict:
    """``delete_docs`` over an already-read lineage snapshot ``rows``
    (``upsert_docs`` shares its one read)."""
    live = lin.live_files(rows)
    if not live or not doc_ids:
        return {"files_rewritten": 0, "rows_deleted": 0}
    d = lin.data_path(output_dir)
    victims = F.col("doc_id").isin(list(doc_ids))

    # 1. locate: which committed files contain a victim row
    affected = [
        r.f
        for r in spark.read.parquet(*(os.path.join(d, f) for f in live))
        .filter(victims)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    if not affected:
        return {"files_rewritten": 0, "rows_deleted": 0}
    # input_file_name returns qualified URIs (file:/..., s3a://...);
    # resolve back to the manifest's data/-relative names by
    # '/'-anchored suffix match (unique: the rel name starts at its
    # own subdir component)
    old_rel = sorted(
        rel for rel in live if any(a.endswith("/" + rel) for a in affected)
    )

    lin.assert_snapshot_unused(rows, snapshot_id)
    if committed_at is None:
        committed_at = lin.next_committed_at(rows)

    # 2. rewrite the affected files minus the victims (ONE small job
    # bounded by the affected-file bytes, not the table). The deletion
    # count rides the write itself: the Observation sits upstream of
    # the filter, so it sees every source row during the single pass
    # (the commit_bucket_group observe-on-write pattern).
    from pyspark.sql import Observation

    obs = Observation()
    src = spark.read.parquet(*(os.path.join(d, r) for r in old_rel)).observe(
        obs, F.sum(F.when(victims, 1).otherwise(0)).alias("n_del")
    )
    subdir = f"{snapshot_id}-d00000"
    dest = os.path.join(d, subdir)
    src.filter(~victims).write.mode("overwrite").parquet(dest)
    n_deleted = int(obs.get["n_del"] or 0)
    new_files = sorted(
        f"{subdir}/{n}" for n in lin._list_dir_files(spark, dest)
    )

    # 3. the commit point: one append, rewritten + replaced together
    rows = [
        (snapshot_id, lin.CONTROL_BUCKET, 0, 0, 0, "rewritten",
         committed_at, new_files),
        (snapshot_id, lin.CONTROL_BUCKET, 0, 0, 0, "replaced",
         committed_at, old_rel),
    ]
    lin.append_lineage(spark, output_dir, rows)
    return {
        "files_rewritten": len(old_rel),
        "rows_deleted": n_deleted,
    }
