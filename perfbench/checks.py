"""Output checks, each against a computation made apart from the
program: plain Python over the generated input, pyarrow read-backs of
the committed files, and DuckDB for the query registry.

Every check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

OUTPUT_COLS = ("doc_id", "order", "kind", "text", "media_ref", "error", "error_code")


def read_docs(path: str) -> list[tuple[str, list[dict]]]:
    """The generated input corpus, read back with pyarrow."""
    t = pq.read_table(path, columns=["doc_id", "spans"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist()))


def read_rows(files: list[str]) -> list[tuple]:
    """Output rows of the given data files, read with pyarrow."""
    rows: list[tuple] = []
    for f in files:
        t = pq.read_table(f)
        cols = [
            t.column(c).to_pylist() if c in t.column_names else [None] * t.num_rows
            for c in OUTPUT_COLS
        ]
        rows.extend(zip(*cols))
    return rows


def read_lineage_totals(output_dir: str) -> tuple[int, int, int]:
    """(docs, spans, errors) summed over the committed lineage rows,
    read with pyarrow from the published manifest files."""
    d = os.path.join(output_dir, "_lineage")
    totals = [0, 0, 0]
    for name in sorted(os.listdir(d)):
        if name.startswith(".") or not name.endswith(".parquet"):
            continue
        for r in pq.read_table(os.path.join(d, name)).to_pylist():
            if r["status"] == "committed":
                totals[0] += r["doc_count"]
                totals[1] += r["span_count"]
                totals[2] += r["error_count"]
    return tuple(totals)


def collapse_ws(s: str | None) -> str:
    return " ".join((s or "").split())


def sorted_spans(spans: list[dict] | None) -> list[dict]:
    """The order the pipeline promises: (offset, kind, media_ref, text)."""
    return sorted(
        spans or (),
        key=lambda s: (s["offset"], s["kind"], s["media_ref"], s["text"]),
    )


def expected_rows(docs, normalize_text) -> dict[tuple[str, int], tuple]:
    """(doc_id, order) -> (kind, media_ref, expected text or None).

    The expected text is known apart from the program for ``text``
    (whitespace collapsed), ``ocr`` (the scalar German normalizer
    applied rule by rule) and ``image`` (empty) spans; layout kernels
    (html, pdf) have no independent reference here and carry None."""
    out = {}
    for doc_id, spans in docs:
        for order, s in enumerate(sorted_spans(spans)):
            if s["kind"] == "text":
                text = collapse_ws(s["text"])
            elif s["kind"] == "ocr":
                text = normalize_text(s["text"] or "") or ""
            elif s["kind"] == "image":
                text = ""
            else:
                text = None
            out[(doc_id, order)] = (s["kind"], s["media_ref"] or "", text)
    return out


def check_rows(rows, expected, planted_errors: set) -> list[str]:
    """Compare output rows with ``expected_rows``; errors must sit on
    exactly the planted malformed spans."""
    problems = []
    keys = [(r[0], r[1]) for r in rows]
    if len(keys) != len(set(keys)):
        problems.append(f"{len(keys) - len(set(keys))} duplicate (doc_id, order) rows")
    if set(keys) != set(expected):
        missing, extra = set(expected) - set(keys), set(keys) - set(expected)
        problems.append(f"span keys differ: {len(missing)} missing, {len(extra)} extra")
    bad_kind = bad_text = 0
    errors = set()
    for doc_id, order, kind, text, media_ref, error, _code in rows:
        exp = expected.get((doc_id, order))
        if error is not None:
            errors.add((doc_id, order))
        if exp is None:
            continue
        if (kind, media_ref or "") != exp[:2]:
            bad_kind += 1
        elif exp[2] is not None and text != exp[2]:
            bad_text += 1
    if bad_kind:
        problems.append(f"{bad_kind} rows out of (offset, kind, media_ref, text) order")
    if bad_text:
        problems.append(f"{bad_text} text/ocr/image rows differ from the reference")
    if errors != planted_errors:
        problems.append(f"errors on {sorted(errors)[:5]}, planted {sorted(planted_errors)[:5]}")
    return problems


def row_hash(rows) -> int:
    """Order-independent hash of a multiset of rows."""
    h = 0
    for r in rows:
        h += int.from_bytes(hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest(), "little")
    return h % (1 << 64)


def _canon(columns, rows):
    """Columns in name order, rows sorted; each value paired with its
    type, so an int-versus-float divergence is a mismatch."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], sorted(
        (tuple((type(r[i]).__name__, r[i]) for i in order) for r in rows), key=repr
    )


def compare_rows(columns, rows, duck) -> str | None:
    """Spark rows against a DuckDB relation: same columns, same multiset
    of rows."""
    a = _canon(list(columns), [tuple(r) for r in rows])
    b = _canon(duck.columns, duck.fetchall())
    if a[0] != b[0]:
        return f"columns differ: {a[0]} vs {b[0]}"
    if len(a[1]) != len(b[1]):
        return f"row counts differ: {len(a[1])} vs {len(b[1])}"
    if a[1] != b[1]:
        return "values differ"
    return None
