"""Scalar text functions (SURVEY §2.7) — native expressions wherever Spark
has the primitive; tiny Arrow UDFs only for NFKC and token-sort ratio.

Reference parity:
  - PII redaction chains            (P2,  normalizer.py:117-127, 210-231)
  - numeric-context OCR correction  (P9,  normalizer.py:70-76, 579-596)
  - unit conversions                (F5,  extractor.py:446-448, 505-516)
  - string similarity               (F11, evaluate.py:208-231)
  - NFKC + noise strip              (F12, normalizer.py:148-151, 179, 189)
  - URL canonicalization for exact-URL dedup, with its DuckDB oracle twin

Only `redact_pii`, `levenshtein_ratio` and the URL canonicalizer are on a
surface (`contract`, `operators.evaluate`); the other helpers are
reference-parity primitives that only their tests call.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# P2 — PII redaction: chained regexp_replace, fully native
# ---------------------------------------------------------------------------

# \s spelled explicitly ([ \t\n\f\r\x0B]): the oracle engine (RE2) excludes
# vertical tab from \s while Java includes it — the same VT pin as the
# tokenizer splits (operators/textstats.WS_CHARS)
_WS = r" \t\n\f\r\x0B"
PII_PATTERNS = [  # specific before generic: the phone regex is greedy
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{2}[A-Z]{5}\d{4}[A-Z][A-Z\d]Z[A-Z\d]\b", "[GST]"),
    (r"\b[A-Z]{5}\d{4}[A-Z]\b", "[PAN]"),
    (rf"\b\d{{4}}[{_WS}]\d{{4}}[{_WS}]\d{{4}}\b", "[ID]"),
    (rf"\+?\d[\d{_WS}()-]{{8,}}\d", "[PHONE]"),
]


def redact_pii(col: Column) -> Column:
    out = col
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# ---------------------------------------------------------------------------
# P9 — numeric-context character correction (O->0, l/I->1, S->5, Z->2),
# applied only when the string is digit-like — translate guarded by rlike
# ---------------------------------------------------------------------------

def fix_numeric_confusables(col: Column) -> Column:
    digitish = col.rlike(r"^[0-9OolIS Z.,%-]+$")
    return F.when(digitish, F.translate(col, "OolISZ", "001152")).otherwise(col)


# ---------------------------------------------------------------------------
# F5 — unit conversions via literal multiplier maps
# ---------------------------------------------------------------------------

UNIT_MULTIPLIERS = {"k": 1_000.0, "lakh": 100_000.0, "m": 1_000_000.0,
                    "crore": 10_000_000.0}


def scale_by_unit(value: Column, unit: Column) -> Column:
    m = F.create_map(*[F.lit(x) for kv in UNIT_MULTIPLIERS.items() for x in kv])
    return value * F.coalesce(F.element_at(m, F.lower(unit)), F.lit(1.0))


# ---------------------------------------------------------------------------
# F11 — string similarity, native: levenshtein ratio
# ---------------------------------------------------------------------------

def levenshtein_ratio(a: Column, b: Column) -> Column:
    return F.round(
        1.0 - F.levenshtein(a, b)
        / F.greatest(F.length(a), F.length(b), F.lit(1)),
        4,
    )


# ---------------------------------------------------------------------------
# Token-sort ratio (ref thefuzz usage, extractor.py:295-307) — pure-Python
# inside an Arrow batch
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def token_sort_ratio_py(a: str, b: str) -> float:
    """token_sort_ratio: sort tokens, compare with Levenshtein ratio —
    the reference's fuzzy-match metric in ~15 lines (SURVEY §7.0)."""
    sa = " ".join(sorted((a or "").lower().split()))
    sb = " ".join(sorted((b or "").lower().split()))
    denom = max(len(sa), len(sb), 1)
    return round(1.0 - _lev(sa, sb) / denom, 4)


@F.pandas_udf(T.DoubleType())
def token_sort_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([token_sort_ratio_py(x, y) for x, y in zip(a, b)])


# ---------------------------------------------------------------------------
# P6 — name cleaning: strip honorific/house prefixes, trailing punctuation,
# canonicalize suffixes, collapse spaces (extractor.py:354-369 retargeted to
# byline/site names)
# ---------------------------------------------------------------------------

def clean_name(col: Column) -> Column:
    out = F.regexp_replace(col, r"(?i)^\s*(?:by|from|m/s\.?|messrs\.?)\s+", "")
    out = F.regexp_replace(out, r"[\s,.;:|-]+$", "")
    out = F.regexp_replace(out, r"(?i)\bpvt\.?\s*ltd\.?\b", "Pvt Ltd")
    out = F.regexp_replace(out, r"(?i)\bltd\.?\b", "Ltd")
    out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


# ---------------------------------------------------------------------------
# F8 — currency detection: membership over a symbol set (normalizer.py:33-36)
# ---------------------------------------------------------------------------

CURRENCY_SYMBOLS = ["₹", "$", "€", "£", "¥", "Rs.", "Rs ", "INR", "USD", "EUR"]


def has_currency(col: Column) -> Column:
    flags = [col.contains(s) for s in CURRENCY_SYMBOLS]
    out = flags[0]
    for f in flags[1:]:
        out = out | f
    return out


# ---------------------------------------------------------------------------
# F13/F14 — JSON output shaping + parsing (executable.py:102-137,
# vlm_fallback.py:331-367): nested {value, confidence} objects, 4-dp rounding
# ---------------------------------------------------------------------------

def results_to_json(results_df):
    """Mirror of ProcessingResult.to_json_output: one JSON string per url
    with nested per-field {value, confidence} objects."""
    def fieldobj(v, c):
        return F.struct(F.col(v).alias("value"),
                        F.round(F.col(c), 4).alias("confidence"))

    return results_df.select(
        "url",
        F.to_json(F.struct(
            fieldobj("title", "title_conf").alias("title"),
            fieldobj("byline", "byline_conf").alias("byline"),
            fieldobj("pub_date", "date_conf").alias("pub_date"),
            F.round("overall_confidence", 4).alias("overall_confidence"),
            F.col("status"),
        )).alias("json_output"),
    )


JSON_RESULT_SCHEMA = (
    "title struct<value:string,confidence:double>, "
    "byline struct<value:string,confidence:double>, "
    "pub_date struct<value:string,confidence:double>, "
    "overall_confidence double, status string"
)


def parse_json_results(df, json_col: str = "json_output"):
    """F14: permissive-schema from_json + typed coercions (roundtrip of
    results_to_json)."""
    return df.withColumn("parsed", F.from_json(F.col(json_col),
                                               JSON_RESULT_SCHEMA))


# ---------------------------------------------------------------------------
# F12 — NFKC normalization (no native Spark equivalent) + noise strip
# ---------------------------------------------------------------------------

_NOISE = str.maketrans("", "", "|_~^")


@F.pandas_udf(T.StringType())
def nfkc_normalize(s: pd.Series) -> pd.Series:
    return s.map(
        lambda x: unicodedata.normalize("NFKC", x).translate(_NOISE)
        if x is not None else None
    )


def nfkc_normalize_py(x: str) -> str:
    return unicodedata.normalize("NFKC", x).translate(_NOISE)


# ---------------------------------------------------------------------------
# URL canonicalization — web-pipeline dedup primitive. One step table drives
# BOTH the Spark column chain and the DuckDB oracle SQL, so the two can never
# drift. Patterns are RE2-compatible (no lookaheads — DuckDB is RE2) and
# replacements carry groups as \N (rewritten to $N for Spark/Java).
# ---------------------------------------------------------------------------

_URL_PREFIX = r"(?i)^(https?://[^/?#]*)"

# (pattern, replacement-with-\N-groups) applied in order. The tracking-param
# pattern is anchored to a preceding ?/& (kept via \1) so it can never eat a
# param whose NAME merely contains a tracking name ('myfbclid=') or a path
# segment that happens to contain 'utm_...' (no & terminator there).
_CANON_STEPS = [
    (r"#.*$", ""),                                           # drop fragment
    (r"([?&])(?:utm_[a-z]+|fbclid|gclid|mc_cid|mc_eid)=[^&#]*", r"\1"),
    (r"&&+", "&"),                                           # tidy separators
    (r"\?&", "?"),
    (r"[?&]+$", ""),
    (r"^(http://[^/?#:]*):80([/?#].*)?$", r"\1\2"),          # default ports
    (r"^(https://[^/?#:]*):443([/?#].*)?$", r"\1\2"),
    (r"^(https?://[^/?#]*)/$", r"\1"),                       # bare root slash
]


def canonical_url(col: Column) -> Column:
    """Canonical form for exact-URL dedup: drop fragment, strip tracking
    params and tidy ?/&, lowercase scheme+host, drop default ports, drop a
    bare root trailing slash. Chained native regexp_replace; the ANSI oracle
    is generated from the same `_CANON_STEPS` (see canonical_url_sql)."""
    u = col
    for i, (pat, repl) in enumerate(_CANON_STEPS):
        if i == 5:  # lowercase scheme+host before the port/slash steps
            u = F.concat(F.lower(F.regexp_extract(u, _URL_PREFIX, 1)),
                         F.regexp_replace(u, _URL_PREFIX, ""))
        u = F.regexp_replace(u, pat, re.sub(r"\\(\d)", r"$\1", repl))
    return u


def canonical_url_sql(expr: str) -> str:
    """DuckDB expression equivalent to canonical_url(col), generated from
    the same step table ('g' flag: DuckDB replaces first match only by
    default, Spark replaces all)."""
    u = expr
    for i, (pat, repl) in enumerate(_CANON_STEPS):
        if i == 5:
            p = _URL_PREFIX.replace("'", "''")
            u = (f"lower(regexp_extract({u}, '{p}', 1)) || "
                 f"regexp_replace({u}, '{p}', '')")
        sp = pat.replace("'", "''")
        sr = repl.replace("'", "''")
        u = f"regexp_replace({u}, '{sp}', '{sr}', 'g')"
    return u
