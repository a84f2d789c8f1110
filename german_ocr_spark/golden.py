"""Single-node golden oracle (FIXTURES.md: 'golden outputs are computed
by running the same pure kernels in plain pandas').

This path shares the kernel functions with the Spark pipeline but NONE
of the Spark plumbing — explode, ordering, batching, shuffle,
reassembly are reimplemented here in ~30 lines of pandas. Tests compare
the two, which validates exactly the distributed mechanics (the part
that can silently break under repartitioning), while kernel unit tests
validate the kernels against hand-written expectations.
"""

from __future__ import annotations

import pandas as pd

from .operators.extract import extract_pandas


def golden_extract(docs: list[tuple[str, list[tuple[str, str, str, int]]]]) -> pd.DataFrame:
    """docs (synth format) → golden extracted span frame with columns
    (doc_id, order, kind, text, media_ref, error), sorted by
    (doc_id, order)."""
    rows = []
    for doc_id, spans in docs:
        # order = rank of (offset, kind, media_ref, text) — same total
        # order as operators.extract.ordered_span_rows
        for order, (kind, text, media_ref, offset) in enumerate(
            sorted(spans, key=lambda s: (s[3], s[0], s[2], s[1]))
        ):
            rows.append((doc_id, order, kind, text, media_ref))
    if not rows:
        return pd.DataFrame(
            columns=[
                "doc_id", "order", "kind", "text", "media_ref", "error",
                "error_code",
            ]
        )
    pdf = pd.DataFrame(rows, columns=["doc_id", "order", "kind", "text", "media_ref"])
    out = extract_pandas(pdf)
    return out.sort_values(["doc_id", "order"]).reset_index(drop=True)
