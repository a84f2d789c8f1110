"""A19 typed error taxonomy: every failure row carries a code from the
closed ERROR_CODES domain (reference exception ladder,
german_ocr/cloud_client.py:34-65, tests/test_cloud_client.py:177-208)."""

from __future__ import annotations

import pandas as pd

from german_ocr_spark.operators.extract import ERROR_CODES, extract_pandas
from german_ocr_spark.operators.multimodal import encode_fake_image


def test_extract_kernel_codes():
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d2", "d3", "d4"],
            "order": [0, 0, 0, 0],
            "kind": ["html", "pdf", "n8n", "text"],
            "text": ["plain not a node table", "plain not blocks", "x", "ok"],
            "media_ref": ["", "", "", ""],
        }
    )
    out = extract_pandas(pdf)
    codes = dict(zip(out["doc_id"], out["error_code"]))
    assert codes == {
        "d1": "PARSE_HTML",
        "d2": "PARSE_PDF",
        "d3": "UNKNOWN_KIND",
        "d4": None,
    }
    assert set(c for c in out["error_code"] if c is not None) <= set(ERROR_CODES)
    # error message and code are set/null together
    assert ((out["error"].isna()) == (out["error_code"].isna())).all()


def test_bad_int_fields_are_parse_error_rows():
    """An int field (page, node_id, block_id) that is infinite, fractional
    or outside int64 makes its span a PARSE_* row instead of failing the
    whole batch; good spans of the same batch are unaffected."""
    us = "\x1f"
    bad = ["inf", "-inf", "1.5", "99999999999999999999"]
    pdf_spans = [us.join([v, "1", "2", "3", "4", "a"]) for v in bad]
    html_spans = [us.join(["0", "p", v, "b"]) for v in bad]
    texts = pdf_spans + html_spans + [us.join(["1.0", "1", "2", "3", "4", "ok"])]
    n = len(texts)
    out = extract_pandas(
        pd.DataFrame(
            {
                "doc_id": [f"d{i}" for i in range(n)],
                "order": [0] * n,
                "kind": ["pdf"] * len(bad) + ["html"] * len(bad) + ["pdf"],
                "text": texts,
                "media_ref": [""] * n,
            }
        )
    )
    codes = dict(zip(out["doc_id"], out["error_code"]))
    assert [codes[f"d{i}"] for i in range(n)] == (
        ["PARSE_PDF"] * len(bad) + ["PARSE_HTML"] * len(bad) + [None]
    )
    assert out.loc[out["doc_id"] == f"d{n - 1}", "text"].tolist() == ["ok"]


def test_multimodal_codes(spark):
    rows = [
        ("m1", "ref1", bytes(encode_fake_image(4, 4, seed=1))),  # ok
        ("m2", "ref2", b"\x89PNG....real"),  # stubbed codec
        ("m3", "ref3", b"garbage"),  # undecodable
    ]
    from german_ocr_spark.operators.multimodal import image_meta

    media = spark.createDataFrame(
        rows, "doc_id string, media_ref string, content binary"
    )
    got = {r.doc_id: r.error_code for r in image_meta(media).collect()}
    assert got == {"m1": None, "m2": "UNSUPPORTED_FORMAT", "m3": "DECODE"}
