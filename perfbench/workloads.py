"""The workloads. Each one generates its inputs from the seed,
warms up, times whole iterations for the requested seconds, then
checks the outputs of its last iteration against computations made
apart from the program. A traced run adds the per-layer numbers.

Sizes are module constants so that every run of a workload does the
same work; README.md gives the reasons for each.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from german_ocr_spark import pipeline
from german_ocr_spark.client import GermanOCRSpark
from german_ocr_spark.functions.german import normalize_series, normalize_text
from german_ocr_spark.kernels import boilerplate, parse, xycut
from german_ocr_spark.operators.extract import (
    EXTRACT_DDL,
    extract_pandas,
    extract_pipeline,
    ordered_span_rows,
)
from german_ocr_spark.plans import lineage as lin
from german_ocr_spark.plans.compact import compact
from german_ocr_spark.plans.delete import delete_docs
from german_ocr_spark.plans.upsert import upsert_docs
from german_ocr_spark.synth import synth_docs_distributed

from . import checks
from .tracing import EventLog, Tracer

# extract-mixed: all five span kinds, a 60-200 span PDF every 100th doc
MIXED_DOCS = 20_000
MIXED_WARMUPS = 1

# commit-resume: text/ocr/image spans only; 32 buckets in groups of 8,
# killed after half of its 4 commit groups and resumed
RESUME_DOCS = 4_000
RESUME_BUCKETS = 32
RESUME_GROUP = 8
RESUME_KINDS = ("text", "ocr", "image")
RESUME_WARMUPS = 1
UPSERT_EXISTING = 40
UPSERT_NEW = 10
DELETE_DOCS = 40
T_RUN = "2026-01-01T00:00:00Z"
T_UPSERT = "2026-01-01T00:00:01Z"
T_DELETE = "2026-01-01T00:00:02Z"
T_COMPACT = "2026-01-01T00:00:03Z"

# query layer (traced commit-resume runs): the five slowest registry
# queries of the 32-core r05 suite run (BENCH_r05.json), all over the
# `documents` table
QUERY_SET = (
    "q202_cluster_chaining",
    "q112_leakage_free_split",
    "q161_prefix_jaccard_join",
    "q42_dedup_components",
    "q148_detector_agreement",
)
QUERY_DOCS = 500
QUERY_WARMUPS = 2
QUERY_PASSES = 3

KINDS = ("pdf", "html", "ocr", "text", "image")
# the generator plants exactly one malformed span: doc 3's html table
PLANTED_ERRORS = {("doc-00000003", 0)}


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    first_timed: float = 0.0  # epoch of the first timed operation
    attempted: int = 0
    problems: list = field(default_factory=list)
    end_to_end: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    windows: list = field(default_factory=list)  # timed iterations, epoch
    per_iter: list = field(default_factory=list)  # span figures per window
    query_windows: list = field(default_factory=list)  # timed query passes

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, iteration, warmups: int, min_timed: int = 3) -> list:
        """Run ``warmups`` untimed iterations, then timed iterations for
        ``seconds`` (at least ``min_timed``). ``iteration(i)`` returns a
        dict of its figures."""
        for i in range(warmups):
            _log(f"warm-up {i}", iteration(i))
        self.first_timed = time.time()
        results, t0 = [], time.perf_counter()
        while len(results) < min_timed or time.perf_counter() - t0 < self.seconds:
            start = time.time()
            results.append(iteration(warmups + len(results)))
            self.windows.append((start, time.time()))
            _log(f"timed {len(results) - 1}", results[-1])
        return results

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


def _log(what: str, figures: dict) -> None:
    shown = {k: round(v, 3) if isinstance(v, float) else v for k, v in figures.items()}
    print(f"perfbench {what}: {shown}", file=sys.stderr, flush=True)


def _median(results: list, key: str) -> float:
    return statistics.median(r[key] for r in results)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_force(df) -> float:
    t0 = time.perf_counter()
    _force(df)
    return time.perf_counter() - t0


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _materialize(run: Run, df, name: str):
    path = run.path(name)
    t0 = time.perf_counter()
    df.write.mode("overwrite").parquet(path)
    _log(f"input {name}", {"write_s": time.perf_counter() - t0})
    return run.spark.read.parquet(path), path


def _arrow_identity(batches):
    """L2 of the prefix plans: the Arrow round trip with no kernel."""
    for pdf in batches:
        yield pdf.assign(error=None, error_code=None)[
            ["doc_id", "order", "kind", "text", "media_ref", "error", "error_code"]
        ]


# ------------------------------------------------------- shared layers
def _prefix_layers(run: Run, docs_path: str) -> None:
    """L0-L3 prefix plans of the extract stage, each forced with noop."""
    spark = run.spark
    plans = {
        "sources.scan_s": lambda: spark.read.parquet(docs_path),
        "extract.order_s": lambda: ordered_span_rows(spark.read.parquet(docs_path)),
        "extract.arrow_s": lambda: ordered_span_rows(
            spark.read.parquet(docs_path)
        ).mapInPandas(_arrow_identity, schema=EXTRACT_DDL),
        "extract.kernels_s": lambda: extract_pipeline(spark.read.parquet(docs_path)),
    }
    for name, plan in plans.items():
        with run.tracer.span(name):
            run.layers[name] = statistics.median(_timed_force(plan()) for _ in range(3))


def _kernel_layers(run: Run, docs_path: str) -> None:
    """Per-kind kernel time in this one process, on the workload's own
    span rows, and the public kernel functions on the same rows."""
    rows = ordered_span_rows(run.spark.read.parquet(docs_path)).toPandas()
    rows = rows[["doc_id", "order", "kind", "text", "media_ref"]]

    def clock(name: str, fn, *args):
        with run.tracer.span(name):
            t0 = time.perf_counter()
            out = fn(*args)
            run.layers[name] = time.perf_counter() - t0
        return out

    for kind in KINDS:
        sub = rows[rows["kind"] == kind].reset_index(drop=True)
        run.layers[f"kernel.{kind}_spans"] = len(sub)
        if kind != "image" and len(sub):
            clock(f"kernel.{kind}_s", extract_pandas, sub)
    pdf_text = rows.loc[rows["kind"] == "pdf", "text"]
    if len(pdf_text):
        blocks, _ = clock("kernels.parse.pdf_s", parse.parse_pdf_blocks, pdf_text)
        if not blocks.empty:
            clock("kernels.xycut_s", xycut.extract_pdf_text, blocks)
    html_text = rows.loc[rows["kind"] == "html", "text"]
    if len(html_text):
        nodes, _ = clock("kernels.parse.html_s", parse.parse_html_nodes, html_text)
        if not nodes.empty:
            clock("kernels.boilerplate_s", boilerplate.extract_main_content, nodes)
    ocr_text = rows.loc[rows["kind"] == "ocr", "text"]
    if len(ocr_text):
        clock("functions.german.normalize_s", normalize_series, ocr_text)


def _commit_layers(run: Run) -> None:
    """Spans around the lineage calls made inside ``pipeline.run``."""
    tr = run.tracer
    tr.wrap(
        lin,
        "commit_bucket_group",
        "lineage.commit_group",
        attrs=lambda *a, **k: {"observe_cols": 3 * len(a[3] if len(a) > 3 else k["buckets"])},
    )
    tr.wrap(lin, "append_lineage", "lineage.append")


def _pipeline_layers(run: Run, pipeline_spans: tuple[str, ...]) -> None:
    """Commit-group figures from the spans of each timed iteration,
    medians over iterations. ``pipeline_spans`` name the spans around
    the ``pipeline.run`` calls."""
    tr = run.tracer
    for w in run.windows:
        groups = tr.select("lineage.commit_group", w)
        in_pipeline = [(s["start"], s["end"]) for n in pipeline_spans for s in tr.select(n, w)]
        append_s = sum(tr.total("lineage.append", x) for x in in_pipeline)
        run.per_iter.append(
            {
                "pipeline.groups": len(groups),
                "lineage.observe_cols": max((g["observe_cols"] for g in groups), default=0),
                "lineage.appends": sum(tr.count("lineage.append", x) for x in in_pipeline),
                "lineage.append_s": append_s,
                # commit_bucket_group self time: write, Observation, listing
                "lineage.write_s": sum(g["end"] - g["start"] for g in groups) - append_s,
                "pipeline_windows": in_pipeline,
            }
        )
    for key in run.per_iter[0]:
        if key != "pipeline_windows":
            run.layers[key] = statistics.median(it[key] for it in run.per_iter)


def event_layers(run: Run, log: EventLog) -> None:
    """Per-layer figures from Spark's event log, medians over the timed
    iterations."""
    figures = [log.metrics([w]) for w in run.windows]
    for name in figures[0]:
        run.layers[name] = statistics.median(f[name] for f in figures)
    run.layers["spark.jobs"] = statistics.median(log.jobs([w]) for w in run.windows)
    if run.query_windows:
        run.layers["queries.jobs"] = statistics.median(log.jobs([w]) for w in run.query_windows)
        passes = [log.metrics([w]) for w in run.query_windows]
        for name in ("spark.shuffle_bytes_written", "spark.fetch_wait_s"):
            run.layers["queries." + name.split(".")[1]] = statistics.median(p[name] for p in passes)
    if run.per_iter:
        run.layers["pipeline.lineage_reads_s"] = statistics.median(
            log.busy_s(it["pipeline_windows"], "/_lineage") for it in run.per_iter
        )


# -------------------------------------------------------- extract-mixed
def extract_mixed(run: Run) -> None:
    spark = run.spark
    docs, docs_path = _materialize(
        run, synth_docs_distributed(spark, MIXED_DOCS, seed=run.seed), "input"
    )
    if run.tracer.enabled:
        _commit_layers(run)
    last = {}

    def iteration(i: int) -> dict:
        out = run.path(f"out-{i}")
        _rmtree(last.get("out", ""))
        with run.tracer.span("pipeline.run"):
            t0 = time.perf_counter()
            r = pipeline.run(spark, docs, out)
            dt = time.perf_counter() - t0
        last.update(out=out, result=r)
        return {"run_s": dt, "docs": r.doc_count}

    results = run.timed(iteration, MIXED_WARMUPS, min_timed=4)
    run.attempted = len(results)
    run.end_to_end["iteration_s"] = _median(results, "run_s")
    run.end_to_end["docs_per_s"] = statistics.median(
        r["docs"] / r["run_s"] for r in results
    )
    out, r = last["out"], last["result"]
    files = lin.committed_files(spark, out)
    run.end_to_end["output_bytes"] = sum(os.path.getsize(f) for f in files)

    # checks, on the last timed iteration's table
    input_docs = checks.read_docs(docs_path)
    expected = checks.expected_rows(input_docs, normalize_text)
    n_docs = sum(1 for _, spans in input_docs if spans)
    run.check(
        (r.doc_count, r.span_count, r.error_count)
        == (n_docs, len(expected), len(PLANTED_ERRORS)),
        f"RunResult counts {r.doc_count, r.span_count, r.error_count} != input "
        f"{n_docs, len(expected), len(PLANTED_ERRORS)}",
    )
    rows = checks.read_rows(files)
    _check_lineage(run, out, rows)
    run.problems += checks.check_rows(rows, expected, PLANTED_ERRORS)
    _rmtree(out)

    if run.tracer.enabled:
        _pipeline_layers(run, ("pipeline.run",))
        run.layers["pipeline.first_run_s"] = run.end_to_end["iteration_s"]
        _prefix_layers(run, docs_path)
        _kernel_layers(run, docs_path)


def _check_lineage(run: Run, out: str, rows: list) -> None:
    """Lineage totals (the Observation on the write) against a pyarrow
    read-back of the committed files."""
    got = checks.read_lineage_totals(out)
    want = (
        sum(1 for r in rows if r[1] == 0),
        len(rows),
        sum(1 for r in rows if r[5] is not None),
    )
    run.check(got == want, f"lineage totals {got} != committed files {want}")


# -------------------------------------------------------- commit-resume
def _only_kinds(df):
    return df.withColumn(
        "spans", F.filter("spans", lambda s: s["kind"].isin(*RESUME_KINDS))
    )


def commit_resume(run: Run) -> None:
    spark = run.spark
    docs, docs_path = _materialize(
        run,
        _only_kinds(synth_docs_distributed(spark, RESUME_DOCS, seed=run.seed, heavy_every=0)),
        "input",
    )
    # upsert: fresh versions (another seed) of existing docs plus new docs;
    # delete: other existing docs. Docs 1-4 are the generator's edge cases.
    rng = random.Random(run.seed)
    picked = rng.sample(range(5, RESUME_DOCS), UPSERT_EXISTING + DELETE_DOCS)
    doc_name = "doc-{:08d}".format
    upserted = {doc_name(i) for i in picked[:UPSERT_EXISTING]} | {
        doc_name(RESUME_DOCS + k) for k in range(UPSERT_NEW)
    }
    victims = sorted(doc_name(i) for i in picked[UPSERT_EXISTING:])
    fresh_in, fresh_in_path = _materialize(
        run,
        _only_kinds(
            synth_docs_distributed(
                spark, RESUME_DOCS + UPSERT_NEW, seed=run.seed + 1, heavy_every=0
            )
        ).filter(F.col("doc_id").isin(sorted(upserted))),
        "fresh_input",
    )
    fresh, _ = _materialize(run, extract_pipeline(fresh_in), "fresh")
    jobs_dir = run.path("jobs")
    if run.tracer.enabled:
        _commit_layers(run)
    tr = run.tracer
    last = {}

    def iteration(i: int) -> dict:
        job = f"job-{i + 1:04d}"
        out = os.path.join(jobs_dir, job)
        _rmtree(last.get("out", ""))
        os.makedirs(out)
        # the job layout GermanOCRSpark.submit writes, so get_usage finds it
        with open(os.path.join(out, "_job.json"), "w") as fh:
            json.dump({"job_id": job, "n_buckets": RESUME_BUCKETS}, fh)
        kw = dict(
            n_buckets=RESUME_BUCKETS,
            bucket_group_size=RESUME_GROUP,
            snapshot_id=job,
            committed_at=T_RUN,
        )
        t = {}

        def step(name: str, fn):
            with tr.span(name):
                t0 = time.perf_counter()
                out_ = fn()
                t[name] = time.perf_counter() - t0
            return out_

        half = (RESUME_BUCKETS // RESUME_GROUP) // 2
        r1 = step("pipeline.first_run", lambda: pipeline.run(spark, docs, out, max_groups=half, **kw))
        r2 = step("pipeline.resume", lambda: pipeline.run(spark, docs, out, **kw))
        with tr.span("plans.maintenance"):
            step(
                "plans.upsert",
                lambda: upsert_docs(spark, out, fresh, snapshot_id=f"{job}-upsert", committed_at=T_UPSERT),
            )
            step(
                "plans.delete",
                lambda: delete_docs(spark, out, victims, snapshot_id=f"{job}-delete", committed_at=T_DELETE),
            )
            step(
                "plans.compact",
                lambda: compact(spark, out, snapshot_id=f"{job}-compact", committed_at=T_COMPACT),
            )
            step("pipeline.read_output", lambda: _force(pipeline.read_output(spark, out)))
        if tr.enabled:
            step("pipeline.read_as_of", lambda: _force(pipeline.read_output(spark, out, as_of=T_UPSERT)))
            step("pipeline.status", lambda: pipeline.status(spark, out))
            step("client.get_usage", lambda: GermanOCRSpark(spark, jobs_dir).get_usage().collect())
        last.update(out=out, r1=r1, r2=r2)
        run_s = t["pipeline.first_run"] + t["pipeline.resume"]
        maint = sum(t[k] for k in ("plans.upsert", "plans.delete", "plans.compact", "pipeline.read_output"))
        return {"run_s": run_s, "maint_s": maint, "iteration_s": run_s + maint, "docs": r2.doc_count, **t}

    results = run.timed(iteration, RESUME_WARMUPS)
    run.attempted = 6 * len(results)
    run.end_to_end["iteration_s"] = _median(results, "iteration_s")
    run.end_to_end["docs_per_s"] = statistics.median(r["docs"] / r["run_s"] for r in results)

    # checks, on the last timed iteration's table, via time travel
    out, r1, r2 = last["out"], last["r1"], last["r2"]
    half = RESUME_BUCKETS // 2
    run.check(
        (r1.buckets_processed, r2.buckets_skipped, r2.buckets_processed) == (half, half, half),
        f"kill/resume buckets {r1.buckets_processed, r2.buckets_skipped, r2.buckets_processed}",
    )
    input_docs = checks.read_docs(docs_path)
    expected = checks.expected_rows(input_docs, normalize_text)
    n_docs = sum(1 for _, spans in input_docs if spans)
    run.check(
        (r2.doc_count, r2.span_count, r2.error_count) == (n_docs, len(expected), 0),
        f"RunResult counts {r2.doc_count, r2.span_count, r2.error_count} != input {n_docs, len(expected), 0}",
    )
    after_resume = checks.read_rows(lin.committed_files(spark, out, as_of=T_RUN))
    _check_lineage(run, out, after_resume)
    run.problems += checks.check_rows(after_resume, expected, set())

    def read(as_of=None) -> list[tuple]:
        df = pipeline.read_output(spark, out, as_of=as_of)
        return [tuple(r) for r in df.select(*checks.OUTPUT_COLS).collect()]

    # upsert replaces the documents that have rows in `fresh`; a fresh
    # version whose spans were all filtered out leaves the old one
    fresh_expected = checks.expected_rows(checks.read_docs(fresh_in_path), normalize_text)
    replaced = {doc_id for doc_id, _ in fresh_expected}
    pre_delete = {k: v for k, v in expected.items() if k[0] not in replaced}
    pre_delete.update(fresh_expected)
    rows_pre = read(as_of=T_UPSERT)
    run.problems += [f"as_of pre-delete: {p}" for p in checks.check_rows(rows_pre, pre_delete, set())]
    rows_del = read(as_of=T_DELETE)
    victim_set = set(victims)
    victim_spans = sum(len(spans or ()) for d, spans in input_docs if d in victim_set)
    run.check(
        len(rows_pre) - len(rows_del) == victim_spans,
        f"delete removed {len(rows_pre) - len(rows_del)} rows, victims had {victim_spans} spans",
    )
    run.check(not any(r[0] in victim_set for r in rows_del), "deleted docs still readable")
    rows_now = read()
    run.check(
        checks.row_hash(rows_now) == checks.row_hash(rows_del) and len(rows_now) == len(rows_del),
        "compaction changed the table's rows",
    )
    run.end_to_end["output_bytes"] = sum(
        os.path.getsize(f) for f in lin.committed_files(spark, out, as_of=T_RUN)
    )
    _rmtree(out)

    if tr.enabled:
        _pipeline_layers(run, ("pipeline.first_run", "pipeline.resume"))
        for name in (
            "pipeline.first_run",
            "pipeline.resume",
            "plans.upsert",
            "plans.delete",
            "plans.compact",
            "pipeline.read_output",
            "pipeline.read_as_of",
            "pipeline.status",
            "client.get_usage",
        ):
            run.layers[f"{name}_s"] = _median(results, name)
        run.layers["plans.maintenance_s"] = _median(results, "maint_s")
        _prefix_layers(run, docs_path)
        _kernel_layers(run, docs_path)
        _query_layers(run)


# ---------------------------------------------------------- query layer
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (("en", 44), ("zh", 15), ("es", 15), ("de", 14), ("fr", 12))


def make_documents(n: int, seed: int):
    """A `documents` table shaped like the registry's fixture: bag-of-
    words texts of 10-99 tokens over a 30-word vocabulary, and one doc
    in twenty a near-duplicate (an earlier text plus one token).

    The seed renames the vocabulary (a permutation of its words). The
    texts' structure (lengths, the sequence of word slots, the
    near-duplicate pairs) is the same for every seed, because the
    queries' iterative dedup work follows it: a fresh random corpus per
    seed moved a pass's wall time by up to 20% from seed to seed."""
    import pyarrow as pa

    structure = random.Random(0)
    names = list(_VOCAB)
    random.Random(seed).shuffle(names)
    langs = [lang for lang, w in _LANGS for _ in range(w)]
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[i - 1 - (i // 20) % 5] + " dup")
        else:
            words = (structure.randrange(len(names)) for _ in range(structure.randint(10, 99)))
            texts.append(" ".join(names[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([structure.choice(langs) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _query_layers(run: Run) -> None:
    """The query-registry layer: passes over QUERY_SET on a generated
    `documents` table. The first warm-up pass collects every query's
    rows and compares them with the query's DuckDB oracle."""
    import duckdb
    import pyarrow.parquet as pq

    from german_ocr_spark.queries import ORACLES, QUERIES

    spark, tr = run.spark, run.tracer
    sf_dir = run.path("sf")
    os.makedirs(sf_dir)
    pq.write_table(make_documents(QUERY_DOCS, run.seed), os.path.join(sf_dir, "documents.parquet"))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    results = []
    for i in range(QUERY_WARMUPS + QUERY_PASSES):
        t = {}
        start = time.time()
        with tr.span("queries.pass"):
            for name in QUERY_SET:
                with tr.span(f"query.{name}"):
                    t0 = time.perf_counter()
                    df = QUERIES[name](spark, sf_dir)
                    df._jdf.queryExecution().executedPlan()
                    t1 = time.perf_counter()
                    if i == 0:
                        err = checks.compare_rows(df.columns, df.collect(), con.sql(ORACLES[name]))
                        run.check(err is None, f"{name} differs from its DuckDB oracle: {err}")
                    else:
                        _force(df)
                    t[name] = (t1 - t0, time.perf_counter() - t1)
        if i >= QUERY_WARMUPS:
            run.query_windows.append((start, time.time()))
            results.append(t)
        _log(f"query pass {i}", {"pass_s": sum(a + b for a, b in t.values())})
    con.close()
    run.layers["queries.plan_s"] = statistics.median(sum(a for a, _ in t.values()) for t in results)
    run.layers["queries.exec_s"] = statistics.median(sum(b for _, b in t.values()) for t in results)
    run.layers["queries.pass_s"] = statistics.median(
        sum(a + b for a, b in t.values()) for t in results
    )
    for name in QUERY_SET:
        run.layers[f"query.{name.split('_')[0]}_s"] = statistics.median(sum(t[name]) for t in results)


WORKLOADS = {
    "extract-mixed": extract_mixed,
    "commit-resume": commit_resume,
}
