"""Property tests: the level-synchronous XY-cut and the Arrow RS/US
split give exactly the output of their straightforward formulations.

The oracles below are the recursive per-page XY-cut (one Python frame
per cut, a Python loop per widest-gap search) and the pandas
``str.split`` record parser. They are kept here only as the
specification; ``kernels/xycut.py`` and ``kernels/parse.py`` must agree
with them on every input, bit for bit, including the exceptions they
raise.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from german_ocr_spark.kernels import parse, xycut
from german_ocr_spark.kernels.parse import HTML_FIELDS, PDF_FIELDS, RS, US
from german_ocr_spark.kernels.xycut import MAX_DEPTH, MIN_GAP

INF = math.inf


# ------------------------------------------------------------ XY-cut oracle
def _widest_gap(lo: np.ndarray, hi: np.ndarray) -> tuple[float, float]:
    """(width, midpoint) of the widest uncovered interval between merged
    [lo, hi) spans; (0, nan) if none."""
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    best_w, best_mid = 0.0, float("nan")
    cur_hi = hi[0]
    for i in range(1, len(lo)):
        w = float(lo[i] - cur_hi)
        if w >= MIN_GAP and w > best_w:
            best_w, best_mid = w, float((cur_hi + lo[i]) / 2.0)
        cur_hi = max(cur_hi, hi[i])
    return best_w, best_mid


def _xycut(idx: np.ndarray, x0, y0, x1, y1, depth: int) -> list[int]:
    if len(idx) <= 1 or depth >= MAX_DEPTH:
        order = np.lexsort((idx, x0[idx], y0[idx]))
        return [int(i) for i in idx[order]]
    yw, ycut = _widest_gap(y0[idx], y1[idx])
    xw, xcut = _widest_gap(x0[idx], x1[idx])
    if yw >= xw and yw > 0:
        top = idx[y0[idx] < ycut]
        bot = idx[y0[idx] >= ycut]
        if len(top) and len(bot):
            return _xycut(top, x0, y0, x1, y1, depth + 1) + _xycut(
                bot, x0, y0, x1, y1, depth + 1
            )
    if xw > 0:
        left = idx[x0[idx] < xcut]
        right = idx[x0[idx] >= xcut]
        if len(left) and len(right):
            return _xycut(left, x0, y0, x1, y1, depth + 1) + _xycut(
                right, x0, y0, x1, y1, depth + 1
            )
    order = np.lexsort((idx, x0[idx], y0[idx]))
    return [int(i) for i in idx[order]]


def oracle_reading_order(blocks: pd.DataFrame) -> pd.DataFrame:
    """Per (span, page) group: vertically disjoint pages keep the
    (y0, x0, idx) order, all others recurse."""
    df = blocks.reset_index(drop=True)
    x0, y0, x1, y1 = (df[c].to_numpy(float) for c in ("x0", "y0", "x1", "y1"))
    span, page = df["span_idx"].to_numpy(), df["page"].to_numpy()
    n = len(df)
    order0 = np.lexsort((np.arange(n), x0, y0, page, span))
    s_span, s_page = span[order0], page[order0]
    change = (
        np.flatnonzero((s_span[1:] != s_span[:-1]) | (s_page[1:] != s_page[:-1])) + 1
    )
    bounds = np.concatenate(([0], change, [n]))
    out_positions = []
    for b0, b1 in zip(bounds[:-1], bounds[1:]):
        seg = order0[b0:b1]
        gy0, gy1 = y0[seg], y1[seg]
        if len(seg) > 1 and not np.all(gy0[1:] >= np.maximum.accumulate(gy1)[:-1]):
            seg = np.asarray(_xycut(seg, x0, y0, x1, y1, 0), dtype=np.int64)
        out_positions.extend(seg)
    out_positions = np.asarray(out_positions, dtype=np.int64)
    ospan = span[out_positions]
    starts = np.flatnonzero(np.r_[True, ospan[1:] != ospan[:-1]])
    within = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    out = df.take(out_positions)
    out["rank"] = within
    return out


def oracle_pdf_text(blocks: pd.DataFrame) -> pd.Series:
    ordered = oracle_reading_order(blocks)
    ordered["text"] = ordered["text"].fillna("")
    return ordered.groupby("span_idx", sort=True)["text"].agg("\n".join)


# ------------------------------------------------------------- parse oracle
def _int64_value_ok(v) -> bool:
    """An int field is valid iff its value is finite, integral and
    inside int64, checked one value at a time with exact Python ints."""
    if v is None or (isinstance(v, float) and not math.isfinite(v)):
        return False
    if isinstance(v, float) and not v.is_integer():
        return False
    return -(2**63) <= int(v) <= 2**63 - 1


def oracle_parse_table(span_text: pd.Series, fields, numeric):
    recs = span_text.fillna("").str.split(RS)
    long = recs.explode()
    long = pd.DataFrame({"span_idx": long.index, "record": long.to_numpy()})
    long = long[long["record"].astype(str).str.len() > 0].reset_index(drop=True)
    if long.empty:
        empty = pd.DataFrame(columns=["span_idx", *fields])
        return empty, pd.Series([], dtype=span_text.index.dtype)
    parts = long["record"].str.split(US, n=len(fields) - 1, expand=True)
    for i in range(parts.shape[1], len(fields)):
        parts[i] = None
    parts.columns = fields
    parts.insert(0, "span_idx", long["span_idx"].to_numpy())
    bad_mask = parts[fields[-1]].isna()
    for col, dtype in numeric.items():
        conv = pd.to_numeric(parts[col], errors="coerce")
        ok = conv.map(_int64_value_ok) if dtype == "int64" else conv.notna()
        bad_mask |= ~ok.astype(bool)
        parts[col] = conv
    bad_spans = parts.loc[bad_mask, "span_idx"].drop_duplicates()
    rows = parts[~parts["span_idx"].isin(set(bad_spans))].copy()
    for col, dtype in numeric.items():
        rows[col] = rows[col].astype(dtype)
    return rows.reset_index(drop=True), bad_spans.reset_index(drop=True)


# --------------------------------------------------------------- layouts
# integer grid points give ties, duplicates, equal x and y gaps and gaps
# of exactly MIN_GAP; the half steps give gaps just below it; ±inf give
# nan widths and midpoints
_COORD = st.one_of(
    st.integers(0, 16).map(float),
    st.sampled_from([0.5, 3.5, 7.25, -INF, INF]),
)
_BOX = st.tuples(
    st.integers(0, 1),  # span_idx
    st.integers(1, 2),  # page
    _COORD,
    _COORD,
    st.integers(-2, 6).map(float),  # width; negative → inverted box
    st.integers(-2, 6).map(float),  # height
)


def _frame(boxes) -> pd.DataFrame:
    rows = [
        (s, p, x, y, x + w, y + h, f"b{i}")
        for i, (s, p, x, y, w, h) in enumerate(boxes)
    ]
    return pd.DataFrame(rows, columns=["span_idx", "page", "x0", "y0", "x1", "y1", "text"])


_GAP = st.sampled_from([0.0, 0.5, MIN_GAP, 1.5, 3.0])


@st.composite
def _columns(draw):
    """Multi-column pages: columns side by side and blocks stacked in
    each, separated by gaps around MIN_GAP, columns shifted against
    each other so their rows overlap."""
    span, page = draw(st.integers(0, 1)), draw(st.integers(1, 2))
    boxes, x = [], 0.0
    for _ in range(draw(st.integers(1, 3))):
        width = draw(st.integers(1, 5).map(float))
        y = draw(st.sampled_from([0.0, 0.5, 1.0, 2.0]))
        for _ in range(draw(st.integers(1, 4))):
            height = draw(st.integers(1, 3).map(float))
            boxes.append((span, page, x, y, width, height))
            y += height + draw(_GAP)
        x += width + draw(_GAP)
    return boxes


@st.composite
def _layouts(draw):
    boxes = draw(st.lists(_BOX, max_size=30))
    for cols in draw(st.lists(_columns(), max_size=3)):
        boxes += cols
    if not boxes:
        boxes = [draw(_BOX)]
    # duplicate boxes: same coordinates, distinct block index
    dups = draw(st.lists(st.sampled_from(boxes), max_size=6))
    return _frame(boxes + dups)


def _staircase(n_steps: int, span: int = 0, page: int = 1) -> list:
    """``n_steps`` full-width rows, each cut off the top at its own
    level, above two interleaved columns. Deeper than MAX_DEPTH when
    ``n_steps >= MAX_DEPTH``."""
    rows = [(span, page, 0.0, 3.0 * i, 20.0, 3.0 * i + 1.0) for i in range(n_steps)]
    top = 3.0 * n_steps
    for j in range(3):
        y = top + 4.0 * j
        rows.append((span, page, 0.0, y, 8.0, y + 3.5))  # left column
        rows.append((span, page, 12.0, y + 0.5, 20.0, y + 4.0))  # right column
    return [(s, p, x0, y0, x1 - x0, y1 - y0) for s, p, x0, y0, x1, y1 in rows]


def _assert_same_order(blocks: pd.DataFrame) -> None:
    with np.errstate(invalid="ignore"):
        want = oracle_reading_order(blocks)
        want_text = oracle_pdf_text(blocks)
    pd.testing.assert_frame_equal(xycut.reading_order(blocks), want, check_exact=True)
    pd.testing.assert_series_equal(
        xycut.extract_pdf_text(blocks), want_text, check_exact=True
    )


@settings(max_examples=400, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_layouts())
def test_reading_order_matches_recursive_oracle(blocks):
    _assert_same_order(blocks)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(MAX_DEPTH - 3, MAX_DEPTH + 8),
    st.integers(0, 1),
    _layouts(),
)
def test_staircase_past_max_depth_matches_oracle(n_steps, span, other):
    # the staircase shares the batch with a random layout on other spans
    other = other.assign(span_idx=other["span_idx"] + 5)
    stairs = _frame(_staircase(n_steps, span))
    _assert_same_order(pd.concat([stairs, other], ignore_index=True))


def test_staircase_reaches_max_depth_fallback():
    """Each step costs one level, so the columns below a staircase of
    MAX_DEPTH steps are never cut apart: they keep the (y0, x0) fallback
    order, which interleaves them. One step fewer and they are cut."""
    def column_order(n_steps):
        out = xycut.reading_order(_frame(_staircase(n_steps)))
        tail = out[out["y0"] >= 3.0 * n_steps].sort_values("rank")
        return ["L" if x == 0.0 else "R" for x in tail["x0"]]

    assert column_order(MAX_DEPTH - 2) == ["L", "L", "L", "R", "R", "R"]
    assert column_order(MAX_DEPTH) == ["L", "R", "L", "R", "L", "R"]


# ------------------------------------------------------------ RS/US split
_FIELD = st.sampled_from(
    ["", "0", "1", "7", "-3", "2.5", "12.0", "nan", "inf", "-inf", " 1", "+1",
     "1.0", "0x10", "1e400", "١", "abc", "Text mit Ümlaut", "x\ny", US,
     "99999999999999999999", "9223372036854775808", "-9223372036854775808"]
)


@st.composite
def _span_texts(draw):
    def record():
        n = draw(st.integers(0, 8))  # missing fields and extra US
        return US.join(draw(st.lists(_FIELD, min_size=n, max_size=n)))

    def span():
        kind = draw(st.integers(0, 9))
        if kind == 0:
            return None
        if kind == 1:  # RS/US-only text
            return "".join(draw(st.lists(st.sampled_from([RS, US]), max_size=6)))
        recs = [record() for _ in range(draw(st.integers(0, 4)))]
        return RS.join(recs)  # consecutive RS → empty records

    n = draw(st.integers(0, 8))
    texts = [span() for _ in range(n)]
    labels = draw(st.lists(st.integers(0, 10**6), min_size=n, max_size=n, unique=True))
    return pd.Series(texts, index=labels, dtype=object)


@pytest.mark.parametrize(
    "fields,numeric",
    [
        (HTML_FIELDS, {"node_id": "int64", "block_id": "int64"}),
        (PDF_FIELDS, {c: "float64" for c in ("x0", "y0", "x1", "y1")} | {"page": "int64"}),
    ],
    ids=["html", "pdf"],
)
@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=_span_texts())
def test_parse_table_matches_pandas_oracle(fields, numeric, texts):
    got = parse.parse_table(texts, fields, numeric)  # errors are rows: never raises
    want = oracle_parse_table(texts, fields, numeric)
    pd.testing.assert_frame_equal(got[0], want[0], check_exact=True)
    pd.testing.assert_series_equal(got[1], want[1], check_exact=True)


def test_parse_numeric_edge_fields():
    """Numeric fields as pd.to_numeric reads them: surrounding space, a
    sign and "1.0" for an int field parse; "nan", hex, overflow and
    non-ASCII digits mark the span bad, and so does an int field that
    is not finite, not integral or outside int64."""
    fields = ["page", "x0", "text"]
    numeric = {"page": "int64", "x0": "float64"}
    cases = {
        " 1": True, "+1": True, "1.0": True, "nan": False, "0x10": False,
        "1e400": False, "١": False, "inf": False, "-inf": False, "1.5": False,
        "99999999999999999999": False, "9223372036854775808": False,
        "9223372036854775807": True, "-9223372036854775808": True,
    }
    for i, (value, ok) in enumerate(cases.items()):
        texts = pd.Series([US.join([value, value, "t"])], index=[i])
        rows, bad = parse.parse_table(texts, fields, numeric)
        want_rows, want_bad = oracle_parse_table(texts, fields, numeric)
        pd.testing.assert_frame_equal(rows, want_rows, check_exact=True)
        pd.testing.assert_series_equal(bad, want_bad, check_exact=True)
        assert bad.tolist() == ([] if ok else [i]), value
