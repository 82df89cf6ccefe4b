"""Unicode canonicalization ahead of exact dedup (r11 verdict #8).

Real multilingual corpora carry the same text under multiple byte
encodings — NFC vs NFD composition (``é`` as U+00E9 vs ``e``+U+0301),
full-width ASCII, typographic quotes/dashes, NBSP — and every one of
those splits an identical document across distinct md5 fingerprints,
silently defeating exact dedup at exactly the scale where it matters.
The canonical form here is:

    NFC  →  multi-char compatibility replacements (ellipsis,
    fi/fl ligatures)  →  1:1 confusables/compatibility translate
    (full-width ASCII, quotes, dashes, exotic spaces)  →  lower
    →  whitespace collapse

NFC is the one step Spark has no built-in for, so it is the single
Arrow-batched kernel in the chain (``unicodedata.normalize`` per
batch — str-in/str-out, no shuffle, map-only); everything after stays
expression-side in whole-stage codegen. The fold table is a curated
mini-NFKC: DuckDB has ``nfc_normalize`` but no NFKC, so the
compatibility folds are spelled out explicitly and IDENTICALLY on both
engines — :func:`canonical_sql` emits the DuckDB twin of
:func:`unicode_canonical` from the same Python fold tables, which is
what makes the queries oracle-able.

Scale: one map-only pass, no shuffle; the Arrow kernel is the only
Python hop and it is O(bytes). At 100 TB this runs fused into the
same stage as the fingerprint groupBy's map side.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# Multi-char compatibility replacements (applied before the 1:1 fold;
# order is part of the cross-engine contract).
FOLD_MULTI: tuple[tuple[str, str], ...] = (
    ("…", "..."),  # horizontal ellipsis
    ("ﬁ", "fi"),  # latin small ligature fi
    ("ﬂ", "fl"),  # latin small ligature fl
)

# 1:1 confusables/compatibility fold. Full-width ASCII block
# U+FF01..U+FF5E maps positionally onto 0x21..0x7E.
_FOLD_PAIRS: list[tuple[str, str]] = [
    (" ", " "),  # no-break space
    (" ", " "),  # en space
    (" ", " "),  # em space
    (" ", " "),  # thin space
    ("　", " "),  # ideographic space
    ("‘", "'"),  # left single quote
    ("’", "'"),  # right single quote
    ("‚", "'"),  # single low-9 quote
    ("“", '"'),  # left double quote
    ("”", '"'),  # right double quote
    ("„", '"'),  # double low-9 quote
    ("–", "-"),  # en dash
    ("—", "-"),  # em dash
    ("−", "-"),  # minus sign
] + [(chr(0xFF01 + i), chr(0x21 + i)) for i in range(0x5E)]

FOLD_SRC = "".join(s for s, _ in _FOLD_PAIRS)
FOLD_DST = "".join(d for _, d in _FOLD_PAIRS)

# Whitespace-collapse set, spelled as an explicit character class so
# Spark (Java regex, where \s includes U+000B) and DuckDB (RE2, where
# it does not) collapse the identical set. \x0B is valid in both.
_WS_CLASS = r"[ \t\n\x0B\f\r]+"


def nfc_pd():
    """Arrow-batched Unicode NFC normalization (str -> str).

    Stability note: NFC is normalization-stable per the Unicode
    standard for assigned code points, so Python's ``unicodedata``
    and DuckDB's ``nfc_normalize`` agree byte-for-byte — the oracle
    parity this module depends on (asserted in tests)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc


def unicode_canonical(text: Column | str) -> Column:
    """Canonical text form: NFC + compatibility fold + lower +
    whitespace collapse. The drop-in upgrade of
    :func:`~crypto_etl_pipeline_spark.operators.textops.normalized_text`
    for corpora that are not ASCII-clean."""
    c = F.col(text) if isinstance(text, str) else text
    c = nfc_pd()(c)
    for m, r in FOLD_MULTI:
        c = F.replace(c, F.lit(m), F.lit(r))
    c = F.translate(c, FOLD_SRC, FOLD_DST)
    # Explicit class, not \s: Java regex includes U+000B in \s, RE2
    # (DuckDB) does not — the one way the twin engines could drift.
    return F.lower(F.regexp_replace(c, _WS_CLASS, " "))


def unicode_fingerprint(text: Column | str) -> Column:
    """md5 of the Unicode-canonical form — the encoding-robust exact
    dedup key (cf. textops.fingerprint_md5, which assumes the corpus
    is already byte-canonical)."""
    return F.md5(unicode_canonical(text))


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


def canonical_sql(expr: str) -> str:
    """DuckDB expression computing EXACTLY :func:`unicode_canonical`
    of ``expr`` — generated from the same fold tables so the two
    engines cannot drift."""
    e = f"nfc_normalize({expr})"
    for m, r in FOLD_MULTI:
        e = f"replace({e}, '{_sql_quote(m)}', '{_sql_quote(r)}')"
    e = f"translate({e}, '{_sql_quote(FOLD_SRC)}', '{_sql_quote(FOLD_DST)}')"
    return f"regexp_replace(lower({e}), '{_WS_CLASS}', ' ', 'g')"


def fingerprint_sql() -> str:
    """DuckDB twin of :func:`unicode_fingerprint` over the ``raw`` column."""
    return f"md5({canonical_sql('raw')})"
