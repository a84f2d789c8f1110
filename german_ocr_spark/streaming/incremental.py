"""Structured Streaming surface: incremental extraction, late-data
windowed rates, and stateful streaming dedup.

Re-expresses the reference's async-job model (submit → poll → resume,
``german_ocr/cloud_client.py:320-462``) as Spark's native incremental
execution: new corpus files landing in a directory ARE the job queue,
the streaming checkpoint IS the job state, and `trigger(availableNow)`
gives the reference's "drain everything then return" batch semantics
while a continuous trigger gives its long-poll semantics. The
extraction plan is the SAME map-only plan as batch
(``operators.extract.extract_pipeline``) — one definition, two
execution modes; batch/stream parity is asserted by tests.
"""

from __future__ import annotations

import contextlib
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from ..operators.extract import extract_pipeline
from ..schema import DOCUMENTS_SPANS_SCHEMA


@dataclass
class StreamProgress:
    """One micro-batch's progress (A16 streaming analog of the
    reference's ``on_progress`` callback payload,
    ``cloud_client.py:436-462``)."""

    query_id: str
    batch_id: int
    num_input_rows: int
    total_input_rows: int


class ProgressRecorder(StreamingQueryListener):
    """StreamingQueryListener that exposes the micro-batch progress
    stream as data: each batch appends a ``StreamProgress`` with a
    cumulative row count, so any observer sees monotone progress while
    a long drain runs — the streaming counterpart of
    ``pipeline.run(on_progress=...)``.

    Attach/detach::

        rec = ProgressRecorder.attach(spark)
        try:  ... run streaming query ...
        finally: rec.detach(spark)
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events: list[StreamProgress] = []
        self._totals: dict[str, int] = {}

    @classmethod
    def attach(cls, spark: SparkSession) -> "ProgressRecorder":
        rec = cls()
        spark.streams.addListener(rec)
        return rec

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)

    # listener callbacks run on Spark's listener-bus thread
    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        p = event.progress
        with self._lock:
            qid = str(p.id)
            total = self._totals.get(qid, 0) + int(p.numInputRows)
            self._totals[qid] = total
            self.events.append(
                StreamProgress(
                    query_id=qid,
                    batch_id=int(p.batchId),
                    num_input_rows=int(p.numInputRows),
                    total_input_rows=total,
                )
            )

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        pass

    def snapshot(self) -> list[StreamProgress]:
        with self._lock:
            return list(self.events)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Incrementally extract every (doc_id, spans) parquet file that
    lands in ``input_dir``; exactly-once per file via the checkpoint
    (a re-run after a crash or with new files processes only the
    un-checkpointed remainder — the streaming twin of the batch
    lineage/bucket resume in plans.lineage)."""
    reader = spark.readStream.schema(DOCUMENTS_SPANS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)
    extracted = extract_pipeline(docs)  # map-only ⇒ append-mode safe
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_rates(events: DataFrame, watermark: str = "30 minutes",
                   window: str = "1 hour") -> DataFrame:
    """Event-time windowed counts with a watermark for late data —
    works identically on a batch or streaming DataFrame (on streaming,
    the watermark lets Spark finalize + emit windows in append mode)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_windowed_rates(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id long, user_id long, event_type string, "
    "ts timestamp, value double, props string",
    watermark: str = "30 minutes",
    window: str = "1 hour",
) -> StreamingQuery:
    """Streaming per-window event rates into parquet (append mode: a
    window is emitted once its watermark passes; availableNow drains
    the backlog and finalizes all windows)."""
    events = spark.readStream.schema(schema).parquet(input_dir)
    return (
        windowed_rates(events, watermark, window)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


SESSION_GAP_SECONDS = 1800  # same gap as the batch sessionizer (q09)

_SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
# state = the user's OPEN session intervals as parallel arrays of
# (start_epoch, last_epoch, n_events), sorted by start and pairwise
# separated by > gap. Normally length 1; out-of-order arrivals within
# the watermark can briefly hold several until a bridging event or the
# watermark merges/closes them — state stays O(open intervals), never
# O(events).
_SESSION_STATE_SCHEMA = "starts array<long>, lasts array<long>, ns array<long>"


def _merge_session_atoms(atoms: list[list[int]], gap: int) -> list[list[int]]:
    """Merge (start, last, n) interval atoms under the gap rule: two
    atoms belong to one session iff the later one starts within ``gap``
    of the earlier one's last event (matching the batch q09 split rule
    ``t - last > gap`` exactly)."""
    atoms.sort()
    out: list[list[int]] = []
    for s, last, n in atoms:
        if out and s - out[-1][1] <= gap:
            out[-1][1] = max(out[-1][1], last)
            out[-1][2] += n
        else:
            out.append([s, last, n])
    return out


def _sessionize_with_state(gap_seconds: int):
    """Build the per-group stateful function for
    ``applyInPandasWithState``: custom session windows (gap-based, like
    the batch q09 sessionizer) maintained across micro-batches.

    Why not ``F.session_window``: this is the engine's demonstration of
    a CUSTOM stateful streaming operator — arbitrary per-key state with
    event-time timeouts — the escape hatch for semantics Spark's
    built-in stateful ops don't cover (the reference's long-poll job
    state machine, ``cloud_client.py:415-462``, is exactly such a
    shape).

    Correctness model: every event (in any arrival order — Spark only
    guarantees events are never older than the watermark) is an interval
    atom; atoms merge under the gap rule; an interval is emitted ONLY
    when the watermark passes its gap horizon (``last + gap``), at which
    point no admissible future event can extend or bridge it. That makes
    the emitted sessions equal to a single-pass batch sessionization of
    the full stream, independent of micro-batch slicing and of
    within-watermark reordering (property-tested in
    ``tests/test_properties.py``). Eager gap-closing WITHIN a batch
    would be wrong: a later micro-batch may legally deliver an earlier
    event that splits or re-shapes the interval."""
    import pandas as pd

    def fn(key, pdf_iter, state):
        user_id = int(key[0])

        atoms: list[list[int]] = []
        if state.exists:
            starts, lasts, ns = state.get
            atoms = [[int(s), int(l), int(n)] for s, l, n in zip(starts, lasts, ns)]
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                # normalize to ns first: Arrow may hand the batch over
                # as datetime64[us], where a bare int64 view would be
                # microseconds and silently shift every session
                epoch = (
                    pdf["ts"].astype("datetime64[ns]").astype("int64")
                    // 1_000_000_000
                )
                atoms.extend([int(t), int(t), 1] for t in epoch)
        open_ = _merge_session_atoms(atoms, gap_seconds)

        wm_ms = state.getCurrentWatermarkMs()
        closed = [a for a in open_ if (a[1] + gap_seconds) * 1000 < wm_ms]
        still = [a for a in open_ if (a[1] + gap_seconds) * 1000 >= wm_ms]

        if still:
            state.update(
                (
                    [a[0] for a in still],
                    [a[1] for a in still],
                    [a[2] for a in still],
                )
            )
            # event-time timeout: fire once the watermark passes the
            # earliest open interval's gap horizon (must stay strictly
            # above the current watermark or Spark rejects it)
            horizon_ms = (still[0][1] + gap_seconds) * 1000
            state.setTimeoutTimestamp(max(horizon_ms, wm_ms + 1))
        else:
            state.remove()

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": pd.to_datetime(
                        [c[0] for c in closed], unit="s"
                    ),
                    "session_end": pd.to_datetime(
                        [c[1] for c in closed], unit="s"
                    ),
                    "n_events": [c[2] for c in closed],
                }
            )

    return fn


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = SESSION_GAP_SECONDS,
    watermark: str = "30 minutes",
    schema: str = "event_id long, user_id long, event_type string, "
    "ts timestamp, value double, props string",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    gap-based sessionization of the event stream, the streaming twin of
    the batch q09 sessionizer. Emits one row per CLOSED session — an
    interval closes exactly when the event-time watermark passes its
    gap horizon (``last + gap``), either on a data batch or via the
    event-time timeout, so the output is batch-identical regardless of
    micro-batch slicing and within-watermark reordering (late events
    inside the watermark extend, split, or bridge their session
    correctly). Scale shape: state is O(open intervals) ≈ O(1) per
    active user, partitioned by the groupBy key across executors."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(input_dir)
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_with_state(gap_seconds),
            _SESSION_OUT_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Stateful streaming dedup on doc_id: the first arrival of each
    doc_id within the watermark horizon passes through, replays and
    re-deliveries are dropped from state — the streaming form of the
    exact-dedup operator (q17), with state bounded by the watermark so
    it runs forever at 10^12 scale."""
    docs = (
        spark.readStream.schema(
            "doc_id string, ingest_ts timestamp, payload string"
        ).parquet(input_dir)
    )
    deduped = docs.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["doc_id"]
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


ATTRIBUTION_HORIZON_SECONDS = 3600


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon_seconds: int = ATTRIBUTION_HORIZON_SECONDS,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time interval join of two event relations: every purchase
    is attributed to ALL of the same user's clicks in the preceding
    ``horizon_seconds`` (the multi-touch counterpart of the as-of
    operator's last-touch rule, `operators/asof.py`). Works identically
    on batch DataFrames and on two streams — on streams this is the
    canonical Spark stream-stream join: both sides carry a watermark
    and the join condition bounds event time on both sides, so each
    side's buffered state is evicted once the other side's watermark
    passes ``ts + horizon + watermark`` — state stays
    O(horizon-window events per user), never O(stream).

    Output is append-mode safe (an inner join row is final the moment
    it is produced) and micro-batch-slicing-independent, which the
    batch/stream parity test pins."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (c["user_id"] == p["p_user_id"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (
            c["click_ts"]
            >= p["purchase_ts"] - F.expr(f"INTERVAL {horizon_seconds} SECONDS")
        )
    )
    return c.join(p, cond).select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("lag_seconds"),
    )


def stream_attribute(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    horizon_seconds: int = ATTRIBUTION_HORIZON_SECONDS,
    watermark: str = "30 minutes",
    schema: str = "event_id long, user_id long, event_type string, "
    "ts timestamp, value double, props string",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming multi-touch attribution over one event feed: the
    stream is read twice (clicks and purchases sides of the
    stream-stream interval join — two readers so each side owns its
    watermark), joined within the horizon, written append-mode with
    exactly-once file checkpointing. availableNow drains the backlog;
    left running it attributes continuously with bounded state."""

    def _reader():
        r = spark.readStream.schema(schema)
        if max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        return r.parquet(input_dir)

    clicks = _reader().filter(F.col("event_type") == "click")
    purchases = _reader().filter(F.col("event_type") == "purchase")
    joined = attribution_join(clicks, purchases, horizon_seconds, watermark)
    return (
        joined.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    committed_at_base: str | None = None,
) -> StreamingQuery:
    """Incremental corpus maintenance: every (doc_id, spans) parquet
    file landing in ``input_dir`` is extracted and MERGED into the
    manifest-committed table at ``table_dir`` — refreshed documents
    replace their stale spans, new documents append
    (``plans.upsert.upsert_docs`` per micro-batch). The streaming twin
    of the reference's re-submit flow (cloud_client.py:320-384 submits
    the same filename again to refresh it) and the continuous form of
    the batch MERGE.

    Exactly-once: the source checkpoint makes each input file feed
    exactly one micro-batch under a stable batch_id, and the merge is
    replay-safe in both crash windows. (a) Crash BEFORE the batch's
    final ``upserted`` lineage row: the replay's delete phase finds its
    victims already removed (or never present) and no-ops, and the
    insert re-write overwrites only its own never-committed subdir —
    the lineage.commit_bucket_group self-cleaning contract. (b) Crash
    AFTER the lineage commit but before the streaming checkpoint
    advances: the replay detects the batch's ``upserted`` row already
    in the manifest and SKIPS the whole merge — re-running it would
    clobber manifest-live files (the snapshot-id single-use rule).

    At scale the per-batch work is bounded by the batch's documents:
    the delete step rewrites only files containing refreshed docs, the
    append touches nothing else."""
    from ..plans import lineage as lin
    from ..plans.upsert import _upsert_docs

    docs = spark.readStream.schema(DOCUMENTS_SPANS_SCHEMA).parquet(input_dir)
    extracted = extract_pipeline(docs)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_id = f"stream-b{batch_id:06d}"
        sess = batch_df.sparkSession
        # one lineage read per batch: the replay check and the merge
        # fold the same snapshot
        rows = lin.lineage_rows(sess, table_dir)
        if any(r.snapshot_id == snapshot_id and r.status == "upserted" for r in rows):
            return  # checkpoint-replay of a fully-committed batch
        # one evaluation of the batch pipeline for the emptiness check,
        # the doc_id projection inside upsert_docs, AND the write
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            # committed_at: default derives the next monotone stamp
            # from the table itself (lin.next_committed_at via
            # _upsert_docs), so stream commits slot AFTER all existing
            # commits and as_of time travel at real timestamps still
            # sees them; an explicit base gets the batch id appended
            # (monotone, string-compared).
            stamp = (
                f"{committed_at_base}+b{batch_id:012d}"
                if committed_at_base is not None
                else None
            )
            _upsert_docs(sess, table_dir, rows, batch_df, snapshot_id, stamp)
        finally:
            batch_df.unpersist()

    writer = extracted.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_stats(events: DataFrame, gap: str = "30 minutes",
                  watermark: str = "30 minutes") -> DataFrame:
    """NATIVE merging session windows (q170's expression) — one
    definition for batch and stream. In streaming, the watermark
    bounds state to OPEN sessions and lets append mode emit a session
    once no on-time event can extend it; in batch the same expression
    is a single groupBy. This is the built-in counterpart to the
    applyInPandasWithState sessionizer above (_sessionize_with_state):
    use the native form when per-session aggregates suffice, the
    custom operator when per-event session tagging or bespoke state
    transitions are needed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_session_stats(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id long, user_id long, event_type string, "
    "ts timestamp, value double, props string",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> StreamingQuery:
    """Streaming session aggregates into parquet (append mode: a
    session emits once the watermark passes its gap-extended end;
    availableNow drains the backlog and finalizes everything older
    than max-event-time - watermark)."""
    events = spark.readStream.schema(schema).parquet(input_dir)
    return (
        session_stats(events, gap, watermark)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@contextlib.contextmanager
def rocksdb_state(spark: SparkSession, changelog: bool = True):
    """Start stateful streaming queries with the RocksDB state store.

    Scale rationale: the default HDFS-backed provider keeps EVERY state
    key in executor heap, so a watermarked dedup / sessionizer whose
    horizon covers hours of a 10^12-doc feed OOMs on state long before
    it bottlenecks on data. RocksDB keeps state on executor-local disk
    with only the working set in block cache, and changelog
    checkpointing ships per-batch deltas to the checkpoint location
    instead of full SST snapshots — commit cost becomes O(keys changed
    this batch), not O(total state).

    The provider class is read from the session conf once, when a
    query STARTS, so this context manager affects exactly the queries
    started inside it. Spark refuses to reopen an existing checkpoint
    under a different provider — choose the provider for the lifetime
    of a query, not per restart.
    """
    keys = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true" if changelog else "false",
    }
    # fallback=None distinguishes "never explicitly set" (restore by
    # unsetting, so Spark's own default stays in charge) from an
    # explicit user setting (restore that exact value)
    old: dict[str, str | None] = {}
    for k, v in keys.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stream_enrich(
    spark: SparkSession,
    input_dir: str,
    dim: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    on: str = "source",
) -> StreamingQuery:
    """Stream–static enrichment: join each arriving micro-batch of
    documents against a static dimension (source metadata, quality
    tiers, license flags) with a BROADCAST hash join — the standard
    pattern for decorating a firehose with slowly-changing reference
    data. This runs with ``trigger(availableNow=True)``, so each call
    is a run-to-completion query: a refreshed dim applies on the NEXT
    ``stream_enrich`` run (pass the re-read DataFrame), and the stream
    side stays exactly-once across those re-runs via the checkpoint —
    already-processed input files are never re-joined, so rows
    enriched under the old dim keep their old decoration (the test
    pins exactly this refresh-across-restart behavior). For a
    long-lived continuous query, pass a dim defined directly over its
    storage path instead of a pre-collected DataFrame: stream-static
    joins re-evaluate the static side per micro-batch, which re-reads
    the path's CURRENT data, whereas an in-memory dim is fixed at plan
    time. Map-only per batch —
    no watermark, no state store — so append mode is safe and the
    stream scales with the input rate alone; the reference analogue
    is the model/metadata catalog lookup (A21, `cloud_client.py:313`)
    applied per document."""
    docs = spark.readStream.schema(
        f"doc_id string, {on} string, ingest_ts timestamp, payload string"
    ).parquet(input_dir)
    enriched = docs.join(F.broadcast(dim), on, "left")
    return (
        enriched.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
