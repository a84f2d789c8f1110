"""Reference-API parity facade: the german-ocr client surface mapped
1:1 onto the Spark engine, so a user of the reference can switch with
the same method names and semantics.

| reference | here | semantics kept |
|---|---|---|
| ``GermanOCR.extract`` (ocr.py:196-232) | ``GermanOCRSpark.extract`` | one document in → extracted text out; failures return ``""`` with the error surfaced on the result object, never a raise mid-batch |
| ``GermanOCR.extract_batch`` (ocr.py:234-267) | ``extract_batch`` | input order preserved; per-document failure isolation (``ollama_backend.py:167-172``: append ``""`` and continue) |
| ``CloudClient.submit`` (cloud_client.py:320-384) | ``submit`` | returns a ``JobStatus`` immediately; work proceeds asynchronously |
| ``CloudClient.get_job`` (cloud_client.py:386-397) | ``get_job`` | status poll by job_id |
| ``CloudClient.wait_for_result`` (cloud_client.py:415-462) | ``wait_for_result`` | poll loop with ``poll_interval`` / ``max_wait`` / ``on_progress`` callback; raises on failure, ``TimeoutError`` past ``max_wait`` |
| ``CloudClient.cancel_job`` (cloud_client.py:399-413) | ``cancel_job`` | swallow-to-False contract |
| ``CloudClient.analyze`` (cloud_client.py:464-526) | ``analyze`` | submit + wait composite |
| ``/v2/analyze`` + ``/v2/models`` (README.md:241-274,321-322 — contract only, no reference code) | ``analyze_v2`` / ``list_v2_templates`` | synchronous structured extraction per template (general/invoice/delivery-notes/document-intelligence) — same field builders the oracle-checked q91/q233/q234/q235 validate |
| ``CloudClient.get_usage`` (cloud_client.py:531-534) | ``get_usage`` | usage statistics — here a per-job lineage rollup DataFrame |
| ``CloudClient.get_balance`` (cloud_client.py:527-529) | ``get_balance`` | dict with explicit null balance (no billing account in-process) + processed totals |
| context manager (cloud_client.py / tests:268-275) | ``with GermanOCRSpark(...)`` | usable in ``with`` blocks |

The async boundary the reference places at HTTP is a driver-side
worker thread here: ``submit`` launches ``pipeline.run`` on a thread,
the lineage table is the durable status store (so ``get_job`` works
from ANY process, not just the submitting one), and cancel goes
through ``pipeline.cancel`` → ``cancelJobGroup`` + a durable control
row. Single documents ride the exact same batched mapInPandas
pipeline as 10^12-document jobs — there is no per-row code path.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipeline
from .operators.extract import extract_pipeline
from .pipeline import JobStatus
from .schema import DOCUMENTS_SPANS_SCHEMA


@dataclass
class ExtractResult:
    """Single-document result (the reference's structured return,
    ``ollama_backend.py:137-147`` / ``ExtractionResult``,
    ``extractor.py:50-56``): extracted text plus per-span error
    surface."""

    doc_id: str
    text: str
    success: bool
    errors: list[str]


# Kernel catalog — the engine's analog of the reference's model
# registry (``ollama_backend.py:13-49`` AVAILABLE_MODELS): short key →
# canonical kernel name + metadata. The reference resolves a short
# model key to the Ollama model it downloads; here the "models" are the
# per-kind vectorized extraction kernels, and the catalog is a tiny
# dimension (broadcast cost class) a job can join for routing/reporting.
AVAILABLE_KERNELS: dict[str, dict[str, str]] = {
    "text": {
        "name": "kernel/text-passthrough",
        "display": "Text passthrough",
        "stage": "map",
        "description": "Unicode-clean text spans, no transformation",
    },
    "html": {
        "name": "kernel/html-boilerplate",
        "display": "HTML boilerplate strip",
        "stage": "map",
        "description": "Text/link-density block scoring (kernels/boilerplate.py)",
    },
    "pdf": {
        "name": "kernel/pdf-xycut",
        "display": "PDF XY-cut layout",
        "stage": "map",
        "description": "Block segmentation + (page, y, x) reading order",
    },
    "ocr": {
        "name": "kernel/german-ocr-post",
        "display": "German OCR post-processing",
        "stage": "map",
        "description": "Umlaut/ß normalize, de-hyphenate, Fraktur repair",
    },
    "image": {
        "name": "kernel/media-ref",
        "display": "Media reference passthrough",
        "stage": "map",
        "description": "Opaque media spans kept as refs (multimodal.py)",
    },
}

DEFAULT_KERNEL = "text"


def list_available_models() -> dict[str, dict[str, str]]:
    """Copy of the kernel catalog — name/shape parity with the
    reference's ``list_available_models`` (``ollama_backend.py:51-53``)."""
    return {k: dict(v) for k, v in AVAILABLE_KERNELS.items()}


def get_model_name(model_key: str) -> str:
    """Short key → canonical kernel name; unknown keys pass through
    unchanged (the reference's fallback, ``ollama_backend.py:56-59``)."""
    if model_key in AVAILABLE_KERNELS:
        return AVAILABLE_KERNELS[model_key]["name"]
    return model_key


class GermanOCRSpark:
    """Drop-in-shaped client over the Spark extraction engine."""

    def __init__(self, spark: SparkSession, workdir: str):
        self._spark = spark
        self._workdir = workdir
        self._jobs: dict[str, dict] = {}
        self._seq = 0

    # ------------------------------------------------ local batch path
    def extract(self, doc: tuple) -> ExtractResult:
        """One ``(doc_id, spans)`` document → extracted text (spans
        joined in order). Mirrors ``GermanOCR.extract``: errors land
        on the result, never raise."""
        return self.extract_batch([doc])[0]

    def extract_batch(self, docs: list[tuple]) -> list[ExtractResult]:
        """Ordered list in → ordered results out (list position =
        input position, like ``extract_batch``'s zip contract,
        ``cli.py:83-93``) — but internally order is carried by doc_id
        keys through one vectorized pipeline pass, never by list
        position."""
        sdf = self._spark.createDataFrame(
            docs, schema=DOCUMENTS_SPANS_SCHEMA
        )
        out = extract_pipeline(sdf)
        rows = (
            out.groupBy("doc_id")
            .agg(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("order", "text")
                            )
                        ),
                        lambda s: s["text"],
                    ),
                ).alias("text"),
                # collect_list skips NULLs, so this is exactly the
                # non-null error messages of the doc's spans
                F.collect_list(F.col("error")).alias("errors"),
            )
            .collect()
        )
        by_id = {r.doc_id: r for r in rows}
        results = []
        for doc in docs:
            r = by_id.get(doc[0])
            if r is None:  # no spans at all
                results.append(ExtractResult(doc[0], "", True, []))
            else:
                errs = list(r.errors or [])
                results.append(
                    ExtractResult(doc[0], r.text, not errs, errs)
                )
        return results

    def list_models(self) -> DataFrame:
        """The kernel catalog as a 5-row dimension DataFrame (key,
        name, display, stage, description) — joinable (always a
        broadcast: the relation is domain-sized) and showable, the
        Spark-shaped spelling of ``list_available_models``."""
        rows = [
            (k, v["name"], v["display"], v["stage"], v["description"])
            for k, v in sorted(AVAILABLE_KERNELS.items())
        ]
        return self._spark.createDataFrame(
            rows, "key string, name string, display string, "
            "stage string, description string"
        )

    # ------------------------------------------------ async job path
    def _next_job_id(self) -> str:
        """Durable sequence: continue from the job dirs already in the
        workdir, so a NEW client instance over an old workdir can never
        reuse a finished job's id (which would silently return the old
        job's output for new input — pipeline.run resumes committed
        buckets by design)."""
        highest = self._seq
        if os.path.isdir(self._workdir):
            for name in os.listdir(self._workdir):
                m = re.fullmatch(r"job-(\d+)", name)
                if m:
                    highest = max(highest, int(m.group(1)))
        self._seq = highest + 1
        return f"job-{self._seq:04d}"

    def submit(self, docs: DataFrame, n_buckets: int = 8) -> JobStatus:
        """Launch an extraction job; returns immediately with a
        pending/processing ``JobStatus`` carrying the job_id. The job
        config is persisted next to the lineage, so ``get_job`` works
        from ANY process over the same workdir."""
        job_id = self._next_job_id()
        out = f"{self._workdir}/{job_id}"
        os.makedirs(out, exist_ok=True)
        with open(f"{out}/_job.json", "w") as fh:
            json.dump({"job_id": job_id, "n_buckets": n_buckets}, fh)
        entry = {"out": out, "n_buckets": n_buckets, "error": None}

        def work():
            try:
                pipeline.run(
                    self._spark,
                    docs,
                    out,
                    n_buckets=n_buckets,
                    snapshot_id=job_id,
                )
            except Exception as exc:  # surfaced via get_job as 'failed'
                entry["error"] = repr(exc)

        t = threading.Thread(target=work, daemon=True)
        entry["thread"] = t
        self._jobs[job_id] = entry
        t.start()
        return JobStatus(job_id, "pending", 0, n_buckets, 0, 0, 0)

    def _job_entry(self, job_id: str) -> dict:
        j = self._jobs.get(job_id)
        if j is None:  # cross-process lookup via the persisted config
            out = f"{self._workdir}/{job_id}"
            with open(f"{out}/_job.json") as fh:
                cfg = json.load(fh)
            j = {
                "out": out,
                "n_buckets": cfg["n_buckets"],
                "error": None,
                "thread": None,
            }
            self._jobs[job_id] = j
        return j

    def get_job(self, job_id: str) -> JobStatus:
        j = self._job_entry(job_id)
        st = pipeline.status(self._spark, j["out"], n_buckets=j["n_buckets"])
        status = st.status
        t = j.get("thread")
        if (
            status not in ("completed", "cancelled")
            and t is not None
            and not t.is_alive()
        ):
            # The worker thread is dead. A status read can RACE the
            # worker's final lineage append (a read taken just before
            # it sees the pre-commit state), so a non-terminal status
            # observed BEFORE noticing the death is not authoritative.
            # Thread death strictly follows the last append, so
            # re-reading now yields the true final state; read once
            # more after a short pause for good measure. Only a
            # post-mortem read that still shows an unfinished job is
            # the reference's 'failed' terminal state
            # (cloud_client.py:443-452) — a genuine crash also leaves
            # j['error'] set by the worker's except handler.
            for _ in range(2):
                st = pipeline.status(
                    self._spark, j["out"], n_buckets=j["n_buckets"]
                )
                status = st.status
                if status in ("completed", "cancelled"):
                    break
                time.sleep(0.1)
            else:
                status = "failed"
        return JobStatus(
            job_id,
            status,
            st.buckets_done,
            st.buckets_total,
            st.doc_count,
            st.span_count,
            st.error_count,
        )

    def wait_for_result(
        self,
        job_id: str,
        poll_interval: float = 0.5,
        max_wait: float = 600.0,
        on_progress=None,
    ) -> DataFrame:
        """Reference poll loop (``cloud_client.py:436-462``): calls
        ``on_progress(JobStatus)`` each poll, returns the extracted
        span table on completion, raises ``RuntimeError`` on a
        cancelled or failed job (``cloud_client.py:443-452``) and
        ``TimeoutError`` past ``max_wait``."""
        j = self._job_entry(job_id)
        deadline = time.monotonic() + max_wait
        while True:
            st = self.get_job(job_id)
            if on_progress is not None:
                on_progress(st)
            if st.status == "completed":
                return pipeline.read_output(self._spark, j["out"])
            if st.status == "cancelled":
                raise RuntimeError(f"job {job_id} cancelled")
            if st.status == "failed":
                raise RuntimeError(
                    f"job {job_id} failed: {j.get('error')}"
                )
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"job {job_id} not finished after {max_wait}s"
                )
            time.sleep(poll_interval)

    def cancel_job(self, job_id: str) -> bool:
        """Swallow-to-False cancel (``cloud_client.py:399-413``)."""
        try:
            j = self._job_entry(job_id)
        except Exception:
            return False
        return pipeline.cancel(
            self._spark, j["out"], snapshot_id=job_id
        )

    def analyze(
        self,
        docs: DataFrame,
        n_buckets: int = 8,
        poll_interval: float = 0.5,
        max_wait: float = 600.0,
        on_progress=None,
    ) -> DataFrame:
        """submit + wait composite (``cloud_client.py:464-526``)."""
        st = self.submit(docs, n_buckets=n_buckets)
        return self.wait_for_result(
            st.job_id,
            poll_interval=poll_interval,
            max_wait=max_wait,
            on_progress=on_progress,
        )

    # ------------------------------------------------ v2 sync templates
    def list_v2_templates(self) -> DataFrame:
        """The v2 template catalog as a 4-row dimension DataFrame —
        the reference's ``/v2/models`` endpoint (README.md:322) in the
        same Spark shape as ``list_models()``."""
        from .functions.templates import V2_TEMPLATES

        rows = [
            (k, v["description"], v["key_fields"])
            for k, v in sorted(V2_TEMPLATES.items())
        ]
        return self._spark.createDataFrame(
            rows, "template string, description string, key_fields string"
        )

    def analyze_v2(
        self, docs: DataFrame, template: str = "general"
    ) -> DataFrame:
        """Synchronous structured extraction — the reference's
        ``/v2/analyze`` premium endpoint (README.md:241-274: 'returns
        structured JSON instantly — no job polling needed'). Runs the
        extraction pipeline over ``docs`` (doc_id, spans), assembles
        each document's text in span order, and applies the requested
        template's field builders (``functions/templates.py`` — the
        SAME Column expressions the oracle-checked q91/q233/q235
        validate); ``document-intelligence`` routes to the per-block
        bbox operator instead (text is not its output shape). Returns
        the fields DataFrame directly — no lineage, no polling; at any
        scale this is one map-only pass after the extract stage."""
        from .functions.templates import TEMPLATE_FIELDS, V2_TEMPLATES

        if template not in V2_TEMPLATES:
            raise ValueError(
                f"unknown v2 template {template!r}; expected one of "
                f"{sorted(V2_TEMPLATES)} (the reference rejects unknown "
                "templates server-side)"
            )
        if template == "document-intelligence":
            from .operators.docintel import document_intelligence

            return document_intelligence(docs)
        texts = (
            extract_pipeline(docs)
            .groupBy("doc_id")
            .agg(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("order", "text"))
                        ),
                        lambda s: s["text"],
                    ),
                ).alias("txt")
            )
        )
        return texts.select("doc_id", *TEMPLATE_FIELDS[template]("txt"))

    # ------------------------------------------------ usage accounting
    def get_usage(self) -> DataFrame:
        """Usage statistics — the reference's ``get_usage``
        (``cloud_client.py:531-534``, README "API Endpoints"
        ``/v1/usage``) re-expressed as a lineage-table rollup: one row
        per job in this client's workdir with its committed document /
        span / error totals, bucket progress, commit-window timestamps,
        data-file count, and terminal status. The lineage tables ARE
        the usage ledger (every commit appended its counts durably),
        so the report needs no extra bookkeeping writes anywhere in
        the job path.

        Scale shape: jobs are a dimension (driver-side dir listing of
        the workdir is jobs-sized, not corpus-sized) and each job's
        lineage is a handful of rows per bucket, so every job is one
        driver-side ``lineage_rows`` read folded in Python — status
        through ``pipeline.status_of``, the same fold as ``get_job`` —
        and the report is ONE small ``createDataFrame``. A job with no
        ``_lineage`` dir yet, or an empty one (a crash between makedirs
        and the first atomic rename), folds to a 'pending' row with
        zero counts."""
        from .plans import lineage as lin

        out = []
        if os.path.isdir(self._workdir):
            for name in sorted(os.listdir(self._workdir)):
                cfg_path = os.path.join(self._workdir, name, "_job.json")
                if not os.path.isfile(cfg_path):
                    continue
                with open(cfg_path) as fh:
                    cfg = json.load(fh)
                rows = lin.lineage_rows(
                    self._spark, os.path.join(self._workdir, cfg["job_id"])
                )
                st = pipeline.status_of(rows, int(cfg["n_buckets"]))
                stamps = [
                    r.committed_at
                    for r in rows
                    if r.status == "committed" and r.committed_at is not None
                ]
                out.append(
                    (
                        cfg["job_id"],
                        st.status,
                        st.buckets_done,
                        st.buckets_total,
                        st.doc_count,
                        st.span_count,
                        st.error_count,
                        sum(len(r.files or ()) for r in rows if r.status == "committed"),
                        min(stamps, default=None),
                        max(stamps, default=None),
                    )
                )
        return self._spark.createDataFrame(
            sorted(out, key=lambda r: r[0]),
            "job_id string, status string, buckets_done int, "
            "buckets_total int, doc_count long, span_count long, "
            "error_count long, n_files long, first_commit_at string, "
            "last_commit_at string",
        )

    def get_balance(self) -> dict:
        """Account balance — the reference's ``get_balance``
        (``cloud_client.py:527-529``, ``/v1/balance``). An in-process
        engine has no paid account; this stand-in keeps the method
        surface 1:1 and reports the metering-relevant totals it CAN
        know (documents/spans processed across the workdir's jobs)
        with an explicit null balance rather than inventing credit."""
        rows = self.get_usage().agg(
            F.coalesce(F.sum("doc_count"), F.lit(0)).alias("d"),
            F.coalesce(F.sum("span_count"), F.lit(0)).alias("s"),
            F.count("*").alias("j"),
        ).collect()[0]
        return {
            "balance": None,
            "currency": "EUR",
            "note": "no billing account in an in-process engine",
            "jobs": int(rows.j),
            "documents_processed": int(rows.d),
            "spans_processed": int(rows.s),
        }

    # ------------------------------------------------ context manager
    def __enter__(self) -> "GermanOCRSpark":
        return self

    def __exit__(self, *exc) -> bool:
        return False
