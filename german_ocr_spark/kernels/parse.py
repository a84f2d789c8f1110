"""Vectorized parsers for serialized node/block tables carried in span text.

An 'html' span's text is a serialized DOM-node table (FIXTURES F2); a
'pdf' span's text is a serialized layout-block table (F3). Both use a
flat record format — records separated by RS (``\\x1e``), fields by US
(``\\x1f``) — so payload text may contain newlines (the PDF kernel needs
``-\\n`` hyphenation to survive, SURVEY B6/B7 interplay).

The RS/US split is Arrow compute (``split_pattern`` + list flattening)
and numeric fields go through ``pd.to_numeric`` — no per-row Python.
Malformed records mark the owning span with an error (reference per-row
isolation semantics, ``german_ocr/ollama_backend.py:167-172``): a field
that does not parse, and an int field whose value is not finite,
integral and inside int64 ("inf", "1.5", "99999999999999999999"). The
parsers never raise on any input text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

RS = "\x1e"  # record separator
US = "\x1f"  # unit (field) separator

HTML_FIELDS = ["node_id", "tag", "block_id", "text"]
PDF_FIELDS = ["page", "x0", "y0", "x1", "y1", "text"]


def serialize_records(rows: list[list], n_text_fields: int = 1) -> str:
    """Inverse of the parsers; used by the synthesizer and tests."""
    return RS.join(US.join(str(v) for v in r) for r in rows)


def _explode_records(span_text: pd.Series) -> tuple[pa.Array, pa.Array]:
    """Series[str] (one serialized table per span) → (span position,
    record) for every non-empty record, in span order."""
    arr = pa.array(span_text.fillna("").to_numpy(object), type=pa.large_string())
    recs = pc.split_pattern(arr, RS)
    flat, parent = pc.list_flatten(recs), pc.list_parent_indices(recs)
    keep = pc.greater(pc.binary_length(flat), 0)
    return parent.filter(keep), flat.filter(keep)


def _int64_valid(conv: pd.Series) -> pd.Series:
    """Where a ``pd.to_numeric`` result holds a finite, integral value
    inside the int64 range. pandas picks the dtype per batch: int64
    (always valid), uint64 (valid up to int64 max) or float64."""
    if conv.dtype.kind == "u":
        return conv <= np.iinfo(np.int64).max
    if conv.dtype.kind == "f":
        return (
            np.isfinite(conv)
            & (conv == np.floor(conv))
            & (conv >= -(2.0**63))
            & (conv < 2.0**63)
        )
    return pd.Series(True, index=conv.index)


def parse_table(
    span_text: pd.Series, fields: list[str], numeric: dict[str, str]
) -> tuple[pd.DataFrame, pd.Series]:
    """Parse serialized tables for a batch of spans.

    Returns ``(rows, bad_span_idx)``: the long node/block frame with a
    ``span_idx`` column pointing back at the input Series index, and the
    distinct span indices that contained malformed records (those spans
    are excluded from ``rows`` entirely — error isolation is per-span).
    """
    parent, records = _explode_records(span_text)
    if not len(records):
        empty = pd.DataFrame(columns=["span_idx", *fields])
        return empty, pd.Series([], dtype=span_text.index.dtype)

    # at most len(fields) parts per record (the last field keeps any
    # further US); missing trailing fields are null
    split = pc.list_slice(
        pc.split_pattern(records, US, max_splits=len(fields) - 1),
        0,
        len(fields),
        return_fixed_size_list=True,
    )
    parts = pd.DataFrame(
        {
            "span_idx": span_text.index.to_numpy()[parent.to_numpy()],
            **{
                f: pc.list_element(split, i).to_numpy(zero_copy_only=False)
                for i, f in enumerate(fields)
            },
        }
    )

    bad_mask = parts[fields[-1]].isna()
    for col, dtype in numeric.items():
        conv = pd.to_numeric(parts[col], errors="coerce")
        bad_mask |= ~_int64_valid(conv) if dtype == "int64" else conv.isna()
        parts[col] = conv
    bad_spans = parts.loc[bad_mask, "span_idx"].drop_duplicates()

    rows = parts[~parts["span_idx"].isin(set(bad_spans))].copy()
    for col, dtype in numeric.items():
        rows[col] = rows[col].astype(dtype)
    return rows.reset_index(drop=True), bad_spans.reset_index(drop=True)


def parse_html_nodes(span_text: pd.Series) -> tuple[pd.DataFrame, pd.Series]:
    return parse_table(
        span_text, HTML_FIELDS, {"node_id": "int64", "block_id": "int64"}
    )


def parse_pdf_blocks(span_text: pd.Series) -> tuple[pd.DataFrame, pd.Series]:
    return parse_table(
        span_text,
        PDF_FIELDS,
        {"page": "int64", "x0": "float64", "y0": "float64", "x1": "float64", "y1": "float64"},
    )
