"""Document-level upsert over the manifest-commit layout (the Iceberg
``MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
INSERT`` pattern for whole-document refresh).

The operational story: a crawl re-fetches a slice of the corpus and
the refreshed extractions must REPLACE the stale ones — takedown's
sibling. On an immutable-file layout that is two manifest moves:

1. Copy-on-write delete of the incoming doc_ids (``plans.delete``):
   only files containing a stale version are rewritten, shadowed
   atomically. Brand-new documents touch nothing here.
2. Append the fresh rows as a normal committed group (an ``upserted``
   lineage row referencing the new files — same manifest mechanics as
   the writer's commit, so `read_output`/`vacuum`/`compact` all
   compose without special cases).

Between the two appends a reader sees the corpus without the refreshed
docs (delete committed, insert not yet) — the same intermediate state
Iceberg's two-phase copy-on-write MERGE exposes between snapshots; it
never sees both versions of a document. After step 2 the table is the
post-merge view. A crash between the steps loses no data that a rerun
of the same upsert batch doesn't restore, and the half-applied state
is itself a consistent snapshot.

Input contract: ``fresh`` carries the EXTRACT_DDL span rows of the
incoming documents (the caller runs the extraction pipeline on the
delta — the corpus-sized work; this module only moves manifests).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import delete as dl
from . import lineage as lin


def upsert_docs(
    spark: SparkSession,
    output_dir: str,
    fresh: DataFrame,
    snapshot_id: str = "upsert-0001",
    committed_at: str | None = None,
) -> dict:
    """Replace-or-insert every document present in ``fresh``.
    Returns ``{"docs_upserted": n, "rows_deleted": n,
    "files_rewritten": n}``.

    ``snapshot_id`` is single-use (guarded for both the delete's and
    the insert's subdirs); ``committed_at`` defaults to ONE derived
    stamp shared by both phases, so an as_of read at that stamp sees
    the post-merge table atomically and any earlier as_of sees the
    pre-merge table."""
    return _upsert_docs(
        spark,
        output_dir,
        lin.lineage_rows(spark, output_dir),
        fresh,
        snapshot_id,
        committed_at,
    )


def _upsert_docs(
    spark: SparkSession,
    output_dir: str,
    rows: list[lin.LineageRow],
    fresh: DataFrame,
    snapshot_id: str,
    committed_at: str | None,
) -> dict:
    """``upsert_docs`` over an already-read lineage snapshot ``rows``;
    the delete phase folds the same snapshot (it appends nothing
    before that phase runs)."""
    lin.assert_snapshot_unused(rows, snapshot_id)
    if committed_at is None:
        committed_at = lin.next_committed_at(rows)
    # fresh is typically the extraction pipeline's output over the
    # incoming delta — the expensive relation. It is evaluated twice
    # below (the doc_id collect AND the data write); persist around
    # both so the upstream plan runs once.
    fresh = fresh.persist()
    doc_ids = [r.doc_id for r in fresh.select("doc_id").distinct().collect()]
    stats = dl._delete_docs(
        spark, output_dir, rows, doc_ids, f"{snapshot_id}-del", committed_at
    )
    subdir = f"{snapshot_id}-u00000"
    dest = os.path.join(lin.data_path(output_dir), subdir)
    fresh.write.mode("overwrite").parquet(dest)
    fresh.unpersist()
    new_files = sorted(
        f"{subdir}/{n}" for n in lin._list_dir_files(spark, dest)
    )
    lin.append_lineage(
        spark,
        output_dir,
        [(snapshot_id, lin.CONTROL_BUCKET, 0, 0, 0, "upserted", committed_at, new_files)],
    )
    return {
        "docs_upserted": len(doc_ids),
        "rows_deleted": stats["rows_deleted"],
        "files_rewritten": stats["files_rewritten"],
    }


def snapshot_diff(
    spark: SparkSession,
    output_dir: str,
    as_of_a: str,
    as_of_b: str | None = None,
) -> DataFrame:
    """Document-level audit of what changed between two snapshots —
    the governance answer to "which documents differ between the
    table my last training run read (``as_of_a``) and now
    (``as_of_b``, default current)": one row per changed doc_id with
    ``change`` ∈ {added, removed, modified}. Unchanged documents emit
    nothing.

    Spark shape: each side collapses to one row per document (md5
    over the ordered span content — a map-side-combining aggregate,
    16-byte states), then a doc-keyed full-outer join of the two
    digest relations decides the verdict. The corpus bytes never ride
    the join; only (doc_id, digest) does. The q78 discipline: heavy
    reads first, full-outer only on the collapsed relations."""
    from .. import pipeline

    def digests(as_of: str | None) -> DataFrame:
        spans = pipeline.read_output(spark, output_dir, as_of=as_of)
        # per-span serialization is to_json with nulls KEPT: concat_ws
        # silently drops null operands AND their separators, so
        # (text=NULL, media_ref='r') and (text='r', media_ref=NULL)
        # would collide to one string and a modified doc would be
        # reported unchanged; JSON quoting makes null vs 'null' vs ''
        # all distinct
        span_json = F.to_json(
            F.struct("order", "kind", "text", "media_ref"),
            {"ignoreNullFields": "false"},
        )
        return spans.groupBy("doc_id").agg(
            F.md5(
                F.concat_ws(
                    "\x1f", F.sort_array(F.collect_list(span_json))
                )
            ).alias("digest")
        )

    a = digests(as_of_a).withColumnRenamed("digest", "digest_a")
    b = digests(as_of_b).withColumnRenamed("digest", "digest_b")
    j = a.join(b, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("digest_a").isNull(), F.lit("added"))
        .when(F.col("digest_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("modified"))
        .alias("change"),
    ).filter(
        F.col("digest_a").isNull()
        | F.col("digest_b").isNull()
        | (F.col("digest_a") != F.col("digest_b"))
    )
