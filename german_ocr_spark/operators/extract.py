"""The extraction pipeline (SURVEY A5/A6/B2/B5-B8/B14/B16).

Spark-first re-expression of the reference's per-document extract loop
(``german_ocr/ocr.py:234-267``, sequential ``extract_batch``): spans are
exploded to rows, routed to a vectorized kernel by ``kind`` inside ONE
``mapInPandas`` stage (Arrow batches, no per-row Python), then
reassembled to ordered span sequences per document.

Per-row error isolation mirrors the reference exactly: a failing span
becomes ``(text='', error=msg)`` and the job continues
(``german_ocr/ollama_backend.py:167-172``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.german import normalize_series
from ..kernels import boilerplate, parse, xycut

# Output schema of the extraction stage (DDL keeps mapInPandas simple).
EXTRACT_DDL = (
    "doc_id string, `order` int, kind string, text string, "
    "media_ref string, error string, error_code string"
)

# Typed error taxonomy (SURVEY A19): the reference's 5-class exception
# ladder (german_ocr/cloud_client.py:34-65 — CloudAPIError,
# AuthenticationError, InsufficientBalanceError, RateLimitError, plus
# ValueError validation raises) re-expressed as a closed error_code
# column domain. Transport-class errors (auth/balance/rate-limit) have
# no analog in an in-process engine; the surviving classes are the
# data-shaped ones:
#   PARSE_HTML         malformed serialized DOM-node table
#   PARSE_PDF          malformed serialized layout-block table
#   UNKNOWN_KIND       span kind outside SPAN_KINDS (the reference's
#                      ValueError on bad format/extension, cloud_client
#                      .py:291-297,359-367)
#   DECODE             media payload undecodable (multimodal kernels)
#   UNSUPPORTED_FORMAT real codec required but stubbed in this sandbox
ERROR_CODES = (
    "PARSE_HTML",
    "PARSE_PDF",
    "UNKNOWN_KIND",
    "DECODE",
    "UNSUPPORTED_FORMAT",
)


# --------------------------------------------------------------- kernels
def _collapse_ws(s: pd.Series) -> pd.Series:
    return s.fillna("").str.replace(r"\s+", " ", regex=True).str.strip()


def extract_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-kind vectorized extraction over one Arrow batch.

    Input columns: doc_id, order, kind, text, media_ref.
    Output: EXTRACT_DDL. Also the single-node golden oracle
    (FIXTURES.md: golden = same pure kernels in plain pandas).
    """
    pdf = pdf.reset_index(drop=True)
    out_text = pd.Series([""] * len(pdf), dtype=object)
    error = pd.Series([None] * len(pdf), dtype=object)
    error_code = pd.Series([None] * len(pdf), dtype=object)
    kind = pdf["kind"].fillna("")
    text = pdf["text"]

    m_text = kind == "text"
    if m_text.any():
        out_text[m_text] = _collapse_ws(text[m_text])

    m_ocr = kind == "ocr"
    if m_ocr.any():
        out_text[m_ocr] = normalize_series(text[m_ocr]).fillna("")

    m_html = kind == "html"
    if m_html.any():
        nodes, bad = parse.parse_html_nodes(text[m_html])
        if len(bad):
            error[bad.to_numpy()] = "malformed html node table"
            error_code[bad.to_numpy()] = "PARSE_HTML"
        if not nodes.empty:
            content = boilerplate.extract_main_content(nodes)
            out_text[content.index] = normalize_series(
                content.astype(object)
            ).fillna("")

    m_pdf = kind == "pdf"
    if m_pdf.any():
        blocks, bad = parse.parse_pdf_blocks(text[m_pdf])
        if len(bad):
            error[bad.to_numpy()] = "malformed pdf block table"
            error_code[bad.to_numpy()] = "PARSE_PDF"
        if not blocks.empty:
            pdf_text = xycut.extract_pdf_text(blocks)
            out_text[pdf_text.index] = normalize_series(
                pdf_text.astype(object)
            ).fillna("")

    m_image = kind == "image"
    # image spans: opaque media pass-through; text stays '' (decode is a
    # separate, stubbed multimodal stage — operators/multimodal.py).

    known = m_text | m_ocr | m_html | m_pdf | m_image
    if (~known).any():
        error[~known] = "unknown span kind"
        error_code[~known] = "UNKNOWN_KIND"

    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "order": pdf["order"].astype("int32"),
            "kind": pdf["kind"],
            "text": out_text,
            "media_ref": pdf["media_ref"].fillna(""),
            "error": error,
            "error_code": error_code,
        }
    )


def _extract_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf):
            yield extract_pandas(pdf)


# --------------------------------------------------------- Spark stages
def ordered_span_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → ordered span rows with ZERO shuffles.

    Because a document's spans arrive nested in one row, their order can
    be assigned in-row: sort the array by (offset, kind, media_ref,
    text) and posexplode — ``pos`` IS the order. A window over exploded
    span rows (row_number per doc_id) would shuffle the full text
    payload once just to regroup rows that started out grouped; at
    100 TB that shuffle is the single largest cost in the job, and this
    formulation avoids it. The whole extraction plan becomes one
    map-only stage: scan → in-row sort/explode → mapInPandas.

    Input span order is NOT trusted (FIXTURES F1: docs may arrive with
    unsorted spans); the in-row sort enforces the total order
    (offset, kind, media_ref, text) within each document."""
    sortable = F.transform(
        "spans",
        lambda s: F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            s["media_ref"].alias("media_ref"),
            s["text"].alias("text"),
        ),
    )
    return docs.select(
        "doc_id", F.posexplode(F.array_sort(sortable)).alias("pos", "span")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("order"),
        F.col("span.offset").alias("offset"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )


def run_extract(
    span_rows: DataFrame,
    salt_partitions: int | None = None,
) -> DataFrame:
    """The flagship mapInPandas stage over ordered span rows.

    ``salt_partitions``: spread the *expensive* kernel work of skewed
    multi-page documents across tasks by repartitioning on
    (doc_id, offset-derived salt) — a heavy 2000-span doc lands on many
    tasks here, and only the cheap reassembly groupBy sees the bare
    doc_id key (SURVEY B14: salt the processing repartition, regroup on
    bare doc_id; AQE handles the rest).
    """
    df = span_rows
    if salt_partitions:
        df = df.repartition(
            salt_partitions, "doc_id", F.pmod(F.col("offset"), F.lit(64))
        )
    return df.mapInPandas(_extract_iter, schema=EXTRACT_DDL)


def reassemble(extracted: DataFrame) -> DataFrame:
    """Group extracted spans back to per-document ordered sequences
    (SURVEY B8). sort_array on the leading ``order`` field gives the
    deterministic sequence regardless of partitioning — list position is
    never trusted (unlike the reference's zip-by-position,
    ``german_ocr/cli.py:83-93``)."""
    return extracted.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("order", "kind", "text", "media_ref", "error",
                         "error_code")
            )
        ).alias("spans"),
        F.count("*").cast("long").alias("span_count"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("error_count"),
    )


def extract_pipeline(docs: DataFrame, salt_partitions: int | None = None) -> DataFrame:
    """docs (doc_id, spans) → extracted span rows (EXTRACT_DDL).

    Shuffle-free by default (ordered_span_rows + mapInPandas in one
    stage). ``salt_partitions`` adds ONE explicit repartition that
    spreads the spans of pathologically heavy documents (10^5-span
    PDFs) across tasks — order is already assigned, so correctness is
    unaffected; use it when the corpus has documents large enough to
    stall a task."""
    return run_extract(ordered_span_rows(docs), salt_partitions)
