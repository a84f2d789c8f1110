"""PDF layout parsing (SURVEY B6): XY-cut block segmentation with
(page, y, x) reading-order fallback.

Generalizes the reference's per-page PDF handling (page progress at
``german_ocr/cloud_client.py:100-102``) into a deterministic layout
sort: within each page, blocks are split at the widest whitespace gap,
horizontal (top→bottom) or vertical (left→right) — the classic XY-cut —
which orders two-column layouts correctly where a naive (y, x) sort
interleaves the columns.

The cut is level-synchronous over the whole batch. Blocks stay in one
global (span, page, y0, x0, index) order and carry a segment id; each
level computes the widest gap of every still-active segment at once
(segmented running maximum over a (segment, lo) sort) and splits every
segment that can be cut into two children, top/left before
bottom/right. After at most ``MAX_DEPTH`` levels one stable sort by
segment id gives the reading order; within a segment, blocks keep the
(y0, x0, index) fallback order. There is no per-page or per-segment
Python loop. Ties are broken by integer block index → bitwise-stable
output across partition counts (BASELINE.json determinism requirement).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

MAX_DEPTH = 16
MIN_GAP = 1.0  # minimum whitespace gap (page units) to cut at


def _prev_cummax(seg: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Running maximum of ``hi`` over the earlier elements of the same
    segment (``seg`` sorted ascending); nan at each segment's first
    element."""
    cm = pd.Series(hi).groupby(seg, sort=False).cummax().to_numpy()
    prev = np.r_[np.nan, cm[:-1]]
    prev[np.r_[True, seg[1:] != seg[:-1]]] = np.nan
    return prev


def _segment_gaps(
    seg: np.ndarray, lo: np.ndarray, hi: np.ndarray, nseg: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per segment id: (width, midpoint) of the widest uncovered interval
    between the merged [lo, hi) spans of its elements, the first one in
    ``lo`` order on ties; (0, nan) where no gap reaches ``MIN_GAP``."""
    o = np.lexsort((lo, seg))
    s, lo = seg[o], lo[o]
    prev = _prev_cummax(s, hi[o])
    with np.errstate(invalid="ignore"):  # ±inf coordinates: nan gaps
        gap = lo - prev
        ok = gap >= MIN_GAP
        width = np.zeros(nseg)
        np.maximum.at(width, s[ok], gap[ok])
        hit = np.flatnonzero(ok & (gap == width[s]))
        hit = hit[np.r_[True, s[hit][1:] != s[hit][:-1]]] if hit.size else hit
        mid = np.full(nseg, np.nan)
        mid[s[hit]] = (prev[hit] + lo[hit]) / 2.0
    return width, mid


def reading_order(blocks: pd.DataFrame) -> pd.DataFrame:
    """Block frame (span_idx, page, x0, y0, x1, y1, text) → same frame
    with an ``rank`` column: 0-based reading order within span
    (pages in ascending order; XY-cut within page).

    Pages whose blocks are vertically disjoint (the overwhelmingly
    common single-column case) start out terminal: with disjoint
    y-intervals every horizontal cut preserves y-order and the terminal
    fallback is the same (y0, x0, idx) order, so the sorted order IS
    the cut order. Only overlapping layouts (multi-column) are cut."""
    if blocks.empty:
        out = blocks.copy()
        out["rank"] = pd.Series([], dtype="int64")
        return out
    df = blocks.reset_index(drop=True)
    span = df["span_idx"].to_numpy()
    page = df["page"].to_numpy()
    n = len(df)

    order0 = np.lexsort(
        (np.arange(n), df["x0"].to_numpy(float), df["y0"].to_numpy(float), page, span)
    )
    x0, y0, x1, y1 = (df[c].to_numpy(float)[order0] for c in ("x0", "y0", "x1", "y1"))
    s_span, s_page = span[order0], page[order0]
    # segment id per block in order0; one segment per (span, page) to start
    seg = np.cumsum(np.r_[False, (s_span[1:] != s_span[:-1]) | (s_page[1:] != s_page[:-1])])
    nseg = int(seg[-1]) + 1
    # a page is cut only if some block starts above the lowest bottom so far
    with np.errstate(invalid="ignore"):
        overlap = y0 < _prev_cummax(seg, y1)
    active = np.bincount(seg[overlap], minlength=nseg) > 0

    for _ in range(MAX_DEPTH):
        a = np.flatnonzero(active[seg])
        if not a.size:
            break
        s = seg[a]
        yw, ycut = _segment_gaps(s, y0[a], y1[a], nseg)
        xw, xcut = _segment_gaps(s, x0[a], x1[a], nseg)
        size = np.bincount(s, minlength=nseg)
        below = y0[a] >= ycut[s]
        right = x0[a] >= xcut[s]
        n_below = np.bincount(s[below], minlength=nseg)
        n_right = np.bincount(s[right], minlength=nseg)
        # cut at the WIDEST gap in either direction (ties → horizontal):
        # a two-column body's wide inter-column gap must beat its narrow
        # inter-paragraph gaps, else the columns interleave
        cut_y = active & (yw >= xw) & (yw > 0) & (n_below > 0) & (n_below < size)
        cut_x = active & ~cut_y & (xw > 0) & (n_right > 0) & (n_right < size)
        split = cut_y | cut_x
        # renumber in reading order: a split segment's children take
        # ids first and first + 1, every other segment keeps one id
        first = np.arange(nseg) + np.cumsum(split) - split
        seg = first[seg]
        seg[a] += np.where(cut_y[s], below, cut_x[s] & right)
        nseg += int(split.sum())
        active = np.zeros(nseg, dtype=bool)
        active[first[split]] = active[first[split] + 1] = True
        active &= np.bincount(seg, minlength=nseg) > 1

    # within a segment order0 already is the (y0, x0, idx) fallback order
    out_positions = order0[np.argsort(seg, kind="stable")]

    # per-span 0-based rank over the global (span, page, in-page) order
    ospan = span[out_positions]
    starts = np.flatnonzero(np.r_[True, ospan[1:] != ospan[:-1]])
    counts = np.diff(np.r_[starts, n])
    within = np.arange(n) - np.repeat(starts, counts)
    out = df.take(out_positions)
    out["rank"] = within
    return out


def extract_pdf_text(blocks: pd.DataFrame) -> pd.Series:
    """Block frame → Series indexed by span_idx: block texts joined by
    '\\n' in reading order (hyphenation '-\\n' joints survive for the
    German de-hyphenation pass, SURVEY B7)."""
    if blocks.empty:
        return pd.Series([], dtype=object)
    ordered = reading_order(blocks)
    span = ordered["span_idx"].to_numpy()
    starts = np.flatnonzero(np.r_[True, span[1:] != span[:-1]])
    texts = pa.ListArray.from_arrays(
        pa.array(np.r_[starts, len(span)], type=pa.int32()),
        pa.array(ordered["text"].fillna("").to_numpy(object), type=pa.string()),
    )
    return pd.Series(
        pc.binary_join(texts, "\n").to_numpy(zero_copy_only=False),
        index=pd.Index(span[starts], name="span_idx"),
        name="text",
    )
