"""B7 kernel: hand-written expectations + 3-way backend parity."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from german_ocr_spark.functions.german import (
    normalize_col,
    normalize_series,
    normalize_sql,
    normalize_text,
)

CASES = [
    ("Verſicherung", "Versicherung"),
    ("Deutfchland", "Deutschland"),
    ("Fchule", "Schule"),
    ("a nnd b", "a und b"),
    ("Nnd dann", "Und dann"),
    ("Versiche-\nrung", "Versicherung"),
    ("Nord-\nWest", "Nord- West"),  # uppercase continuation: no join
    ("Haendler", "Händler"),
    ("Muenchen", "München"),
    ("Quelle", "Quelle"),  # q before ue: untouched
    ("neue", "neue"),  # vowel before ue: untouched
    ("Aepfel", "Äpfel"),
    ("Oesterreich", "Österreich"),
    ("Ueber", "Über"),
    ("groſse", "große"),  # long-s + s → ß
    ("groſſe", "grosse"),  # bare long-s pair → round s
    ("  viel   Raum \t hier  ", "viel Raum hier"),
    ("a\r\nb", "a b"),
    ("", ""),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_scalar(raw, expected):
    assert normalize_text(raw) == expected


def test_series_matches_scalar():
    raw = [c[0] for c in CASES] + [None]
    s = pd.Series(raw, dtype=object)
    got = normalize_series(s).tolist()
    want = [normalize_text(x) for x in raw]
    assert got == want


def test_duckdb_parity():
    raw = [c[0] for c in CASES]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"x": raw}))
    got = [r[0] for r in con.sql(f"select {normalize_sql('x')} from t").fetchall()]
    assert got == [normalize_text(x) for x in raw]


def _corruption_soup(n=3000, seed=1234):
    import random

    alphabet = list("aefnsochABFNSOUdu ſß-\n\r\t") + ["ae", "oe", "ue", "Ae",
                    "Ue", "fch", "nnd", "ſs", "-\n", "\r\n", "sch", "und"]
    rng = random.Random(seed)
    return [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        for _ in range(n)
    ]


@pytest.mark.parametrize("kernel_name", [
    "normalize_series",            # the public kernel
    "_normalize_series_arrow",     # RE2 fast path, pinned explicitly
])
def test_every_kernel_path_equals_rule_chain_brute_force(kernel_name):
    """EVERY normalize kernel path must equal the literal rule chain
    (normalize_text) on dense random corruption soup."""
    from german_ocr_spark.functions import german as g

    kernel = getattr(g, kernel_name)
    raws = _corruption_soup()
    got = kernel(pd.Series(raws, dtype=object)).tolist()
    want = [normalize_text(x) for x in raws]
    assert got == want


def test_spark_parity(spark):
    raw = [c[0] for c in CASES]
    df = spark.createDataFrame([(x,) for x in raw], "x string")
    got = [r[0] for r in df.select(normalize_col(df.x).alias("y")).collect()]
    assert got == [normalize_text(x) for x in raw]
