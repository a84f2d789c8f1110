"""German OCR post-processing (SURVEY B7) — one rule table, three backends.

Generalizes the reference's per-document "model output → clean text"
step (``german_ocr/ollama_backend.py:137`` strips whitespace; the
German-specific cleanup is the capability the north rule mandates:
umlaut/ß normalization, de-hyphenation at line breaks, Fraktur
confusion maps).

The rules are defined ONCE and rendered to:
  * a vectorized pandas kernel (``normalize_series``) — the pipeline's
    mapInPandas hot path, Arrow/RE2 ``replace_substring_regex`` (no
    per-row Python);
  * a Spark Column expression (``normalize_col``) — whole-stage-codegen
    JVM path for SQL-expressible uses;
  * a DuckDB SQL expression (``normalize_sql``) — the driver's oracle.

Regex dialect is restricted to the intersection of Java regex, RE2
(DuckDB) and Python ``re``: no lookaround, only capture groups, ``\\b``,
character classes and inline ``(?i)``. Global, left-to-right,
non-overlapping replacement has identical semantics in all three.
All rules are pure, deterministic and locale-independent — the
bitwise-reproducibility requirement of BASELINE.json.

``\\b`` semantics: Java (default) and RE2 both define the word class
ASCII-only (``[0-9A-Za-z_]``), while Python ``re`` is Unicode-aware —
``ßAe`` has a Java/RE2 boundary before the A but no Python one. The
shared dialect therefore pins ``\\b`` to the ASCII definition, and the
Python renderings translate it to explicit ASCII lookarounds
(``_py_pattern``) so all backends agree on non-ASCII neighbors too.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    pattern: str  # shared regex (Java ∩ RE2 ∩ Python)
    repl: str  # replacement with {1}/{2} group placeholders
    note: str = ""


_CONS = "bcdfghjklmnprstvwxzBCDFGHJKLMNPRSTVWXZ"

# Order matters; applied top to bottom.
RULES: tuple[Rule, ...] = (
    Rule(r"\r\n?", "\n", "normalize CR / CRLF line endings"),
    # Fraktur long-s: 'ſs' ligature-ish sequence → ß, then bare ſ → s.
    Rule(r"ſs", "ß", "long s + s → ß"),
    Rule(r"ſ", "s", "long s → round s"),
    # Fraktur f/s confusion: no German word contains 'fch'; OCR misreads
    # 'sch' as 'fch'. Safe global fix.
    Rule(r"fch", "sch", "f↔s confusion in 'sch'"),
    Rule(r"Fch", "Sch", "f↔s confusion, capitalized"),
    # u/n confusion: 'nnd' is not German; OCR misread of 'und'.
    Rule(r"\bnnd\b", "und", "u↔n confusion in 'und'"),
    Rule(r"\bNnd\b", "Und", "u↔n confusion, capitalized"),
    # De-hyphenation at line breaks: 'Versiche-\nrung' → 'Versicherung'.
    # Only joins when the continuation starts lowercase (keeps genuine
    # compounds like 'Nord-\nWest' intact as 'Nord-West' via later \n fold).
    Rule(r"([A-Za-zÄÖÜäöüß])-\n([a-zäöüß])", "{1}{2}", "de-hyphenate line break"),
    # Transliterated umlauts → umlauts. Word-initial and post-consonant
    # digraphs only: avoids 'neue', 'Quelle', 'aue' (vowel/q before the
    # digraph blocks the rewrite).
    Rule(r"\bAe", "Ä", "word-initial Ae"),
    Rule(r"\bOe", "Ö", "word-initial Oe"),
    Rule(r"\bUe", "Ü", "word-initial Ue"),
    Rule(rf"([{_CONS}])ae", "{1}ä", "post-consonant ae"),
    Rule(rf"([{_CONS}])oe", "{1}ö", "post-consonant oe"),
    Rule(rf"([{_CONS}])ue", "{1}ü", "post-consonant ue"),
    # Whitespace canonicalization (reference strips output whitespace,
    # ollama_backend.py:137).
    Rule(r"\n", " ", "fold line breaks"),
    Rule(r"[ \t]+", " ", "collapse runs of spaces"),
)


def _py_repl(repl: str) -> str:
    return repl.replace("{1}", "\\1").replace("{2}", "\\2")


_ASCII_W = "0-9A-Za-z_"


def _py_pattern(pat: str) -> str:
    """Render a shared-dialect pattern for Python ``re``: ``\\b`` becomes
    an explicit ASCII-word-class lookaround so Python matches exactly
    where Java/RE2 do (see module docstring). Left boundary when a word
    char follows, right boundary otherwise — all RULES use edge \\b."""
    out = []
    i = 0
    while i < len(pat):
        if pat[i : i + 2] == "\\b":
            follows_word = bool(re.match(r"[0-9A-Za-z_]", pat[i + 2 : i + 3]))
            out.append(
                f"(?<![{_ASCII_W}])" if follows_word else f"(?![{_ASCII_W}])"
            )
            i += 2
        else:
            out.append(pat[i])
            i += 1
    return "".join(out)


def _java_repl(repl: str) -> str:
    return repl.replace("{1}", "$1").replace("{2}", "$2")


def _duck_repl(repl: str) -> str:
    return repl.replace("{1}", "\\1").replace("{2}", "\\2")


# Precompiled for the pandas kernel (ASCII-\b translated).
_COMPILED: tuple[tuple[re.Pattern, str], ...] = tuple(
    (re.compile(_py_pattern(r.pattern)), _py_repl(r.repl)) for r in RULES
)


def normalize_text(s: str) -> str:
    """Scalar reference implementation (tests / golden oracle): the
    rule chain applied literally, one pass per rule."""
    if s is None:
        return None
    for pat, repl in _COMPILED:
        s = pat.sub(repl, s)
    return s.strip()


def _normalize_series_arrow(s):
    """Arrow/RE2 kernel: the RULES chain applied rule-for-rule via
    ``pyarrow.compute.replace_substring_regex`` (C++ RE2, zero Python
    per match) — identical output BY CONSTRUCTION (same per-rule global
    replace; RE2's \\b is the shared dialect's ASCII definition).
    ~3.3x faster than the fused Python chain on corpus text, which
    directly raises extraction docs/s. Measured split of the
    single-process kernel time on perfbench's extract-mixed input
    (20k docs, seed 3): normalization ≈1.1 s of ≈2.6 s (PDF 0.64 s,
    HTML 0.30 s, OCR 0.17 s), RS/US parse ≈0.87 s, boilerplate 0.27 s,
    XY-cut with the text join 0.20 s."""
    arr = pa.array(s.fillna(""), type=pa.string())
    for r in RULES:
        arr = pc.replace_substring_regex(
            arr, pattern=r.pattern, replacement=_duck_repl(r.repl)
        )
    arr = pc.utf8_trim_whitespace(arr)
    out = arr.to_pandas().astype(object)
    out.index = s.index
    return out.where(~s.isna(), None)


def normalize_series(s):
    """Vectorized pandas kernel: Series[str] → Series[str], the
    Arrow/RE2 chain. Every mapInPandas stage already needs pyarrow, so
    there is no pure-Python fallback; the scalar ``normalize_text`` is
    the oracle the brute-force and hypothesis suites compare against.
    This is the 'ocr' kernel the pipeline runs inside mapInPandas
    (SURVEY B7/B16)."""
    return _normalize_series_arrow(s)


def normalize_col(col: Column) -> Column:
    """Spark Column expression (JVM, whole-stage codegen)."""
    out = col
    for r in RULES:
        out = F.regexp_replace(out, r.pattern, _java_repl(r.repl))
    return F.trim(out)


def duck_lit(s: str) -> str:
    """DuckDB E-string literal: \\ doubled, quotes doubled, control chars escaped."""
    s = (
        s.replace("\\", "\\\\")
        .replace("'", "''")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )
    return "E'" + s + "'"


def normalize_sql(expr: str) -> str:
    """DuckDB SQL expression string computing the same function.

    DuckDB regexp_replace needs the 'g' flag for global replacement and
    uses RE2 — every pattern in RULES is RE2-compatible by construction.
    """
    out = expr
    for r in RULES:
        out = (
            f"regexp_replace({out}, {duck_lit(r.pattern)}, "
            f"{duck_lit(_duck_repl(r.repl))}, 'g')"
        )
    return f"trim({out})"


# ---------------------------------------------------------------------------
# Kölner Phonetik (Postel 1969) — the German-language phonetic code
# (the Soundex analog tuned to German orthography). Used for phonetic
# BLOCKING: OCR-variant spellings (Fraktur confusions, umlaut
# transcription drift) usually collapse onto one code, so grouping a
# vocabulary by code yields candidate variant clusters without any
# pairwise comparison. One rule table generates BOTH dialects'
# expressions (Spark SQL and DuckDB), so engine drift is impossible.
#
# Encoding: per character, context-sensitive digit (prev/next aware);
# then collapse consecutive duplicates and drop '0' everywhere except
# the leading position. 'h' carries no code; 'x' emits two digits.


def _koelner_char_case(t: str, i: str) -> str:
    """The per-character CASE, shared verbatim by both dialects
    (everything inside is ANSI): c = char at i, prv/nxt = neighbors
    ('' at the edges — spelled explicitly because Spark's substring
    treats position 0 as 1 while DuckDB yields '')."""
    c = f"substring({t}, {i}, 1)"
    prv = f"(CASE WHEN {i} = 1 THEN '' ELSE substring({t}, {i} - 1, 1) END)"
    nxt = f"substring({t}, {i} + 1, 1)"
    return f"""CASE
 WHEN {c} IN ('a','e','i','j','o','u','y','ä','ö','ü') THEN '0'
 WHEN {c} = 'h' THEN ''
 WHEN {c} = 'b' THEN '1'
 WHEN {c} = 'p' THEN (CASE WHEN {nxt} = 'h' THEN '3' ELSE '1' END)
 WHEN {c} IN ('d','t') THEN (CASE WHEN {nxt} IN ('c','s','z') THEN '8' ELSE '2' END)
 WHEN {c} IN ('f','v','w') THEN '3'
 WHEN {c} IN ('g','k','q') THEN '4'
 WHEN {c} = 'c' THEN (CASE
    WHEN {prv} IN ('s','z') THEN '8'
    WHEN {i} = 1 AND {nxt} IN ('a','h','k','l','o','q','r','u','x') THEN '4'
    WHEN {i} > 1 AND {nxt} IN ('a','h','k','o','q','u','x') THEN '4'
    ELSE '8' END)
 WHEN {c} = 'x' THEN (CASE WHEN {prv} IN ('c','k','q') THEN '8' ELSE '48' END)
 WHEN {c} = 'l' THEN '5'
 WHEN {c} IN ('m','n') THEN '6'
 WHEN {c} = 'r' THEN '7'
 WHEN {c} IN ('s','z','ß') THEN '8'
 ELSE ''
END"""


def koelner_raw_sql(expr: str, dialect: str) -> str:
    """Raw digit string (pre-collapse) of a LOWERCASE token."""
    case = _koelner_char_case(expr, "i")
    if dialect == "spark":
        # sequence(1, 0) would yield a DESCENDING [1, 0] — guard empties
        return (
            f"CASE WHEN length({expr}) = 0 THEN '' ELSE "
            f"array_join(transform(sequence(1, length({expr})),"
            f" i -> {case}), '') END"
        )
    return (
        f"array_to_string(list_transform(range(1, length({expr}) + 1),"
        f" i -> {case}), '')"
    )


def koelner_finish_sql(expr: str, dialect: str) -> str:
    """Collapse consecutive duplicates + strip non-leading '0' from a
    raw digit string. Single combined pass: keep digit i iff it
    differs from digit i-1 AND (is not '0' OR i = 1) — provably equal
    to dedup-then-strip because stripping only removes '0's and never
    creates new adjacencies the dedup step would have removed."""
    keep = (
        f"CASE WHEN i > 1 AND (substring({expr}, i, 1) ="
        f" substring({expr}, i - 1, 1) OR substring({expr}, i, 1) = '0')"
        f" THEN '' ELSE substring({expr}, i, 1) END"
    )
    if dialect == "spark":
        return (
            f"CASE WHEN length({expr}) = 0 THEN '' ELSE "
            f"array_join(transform(sequence(1, length({expr})),"
            f" i -> {keep}), '') END"
        )
    return (
        f"array_to_string(list_transform(range(1, length({expr}) + 1),"
        f" i -> {keep}), '')"
    )


def koelner_phonetik_py(token: str) -> str:
    """Plain-Python reference implementation (test oracle)."""
    t = token.lower()
    vowels = set("aeijouyäöü")
    raw = []
    for i, c in enumerate(t):
        prv = t[i - 1] if i > 0 else ""
        nxt = t[i + 1] if i + 1 < len(t) else ""
        if c in vowels:
            raw.append("0")
        elif c == "h":
            pass
        elif c == "b":
            raw.append("1")
        elif c == "p":
            raw.append("3" if nxt == "h" else "1")
        elif c in "dt":
            raw.append("8" if nxt in "csz" and nxt else "2")
        elif c in "fvw":
            raw.append("3")
        elif c in "gkq":
            raw.append("4")
        elif c == "c":
            if prv in "sz" and prv:
                raw.append("8")
            elif i == 0 and nxt in "ahkloqrux" and nxt:
                raw.append("4")
            elif i > 0 and nxt in "ahkoqux" and nxt:
                raw.append("4")
            else:
                raw.append("8")
        elif c == "x":
            raw.append("8" if prv in "ckq" and prv else "48")
        elif c == "l":
            raw.append("5")
        elif c in "mn":
            raw.append("6")
        elif c == "r":
            raw.append("7")
        elif c in ("s", "z", "ß"):
            raw.append("8")
    r = "".join(raw)
    out = []
    for i, c in enumerate(r):
        if i > 0 and (c == r[i - 1] or c == "0"):
            continue
        out.append(c)
    return "".join(out)
