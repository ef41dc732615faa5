"""Cleaning / validation scalar functions.

Three synchronized layers of the same semantics:

1. **Pure-Python** functions — the specification. Used by the DuckDB/pandas
   oracle in tests, and unit-tested against the reference's own parametrized
   corpus (reference: /root/reference/utils/transform.py:23-78, tests at
   /root/reference/tests/test_transform.py:174-271).
2. **Column-expression** variants — built-in ``pyspark.sql.functions`` only,
   JVM-side, whole-stage-codegen'd. Used by queries that clean stored
   columns at read time (``queries.q_cdc_lww_cleaned``).
3. **Vectorized pandas UDF** variants — the Arrow path mandated by
   BASELINE.json:input_hint ("vectorized pandas/Arrow UDFs, no per-row
   Python"). The ingest path (``pipeline.apply_batch``) always cleans with
   ``clean_text_pudf``; still ~10-100x faster than row-at-a-time UDFs.

Reference semantics preserved exactly (they drive per-turn text equality):

- ``clean_price``  (transform.py:23-35): non-str → None; contains
  "unavailable" (case-insens) → None; strip ``[$,]``; float() else None.
- ``clean_rating`` (transform.py:38-57): non-str → None; contains
  "invalid"/"not rated" → None; regex ``(\\d(\\.\\d)?)\\s*(?:/|\\s|$)``
  group 1; fallback float(strip()) else None.
- ``clean_colors`` (transform.py:60-78): first integer via ``(\\d+)`` → int
  else None.
- text/role cleaning for the transcript payload: strip whitespace (what
  ``str.strip()`` strips, in every layer); sentinel junk ("[unavailable]",
  "not rated", "n/a", "") → null.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# 1. Pure-Python specification (shared with the test oracle)
# --------------------------------------------------------------------------

_RATING_RE = re.compile(r"(\d(\.\d)?)\s*(?:/|\s|$)")
_COLORS_RE = re.compile(r"(\d+)")
_PRICE_STRIP_RE = re.compile(r"[$,]")

TEXT_SENTINELS = frozenset({"[unavailable]", "not rated", "n/a", ""})

# every character ``str.strip()`` removes (``str.isspace``) — Spark's
# ``trim`` strips only spaces, so the Column layer trims this set
# explicitly to match the specification
STRIP_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002"
    "\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f"
    "\u205f\u3000"
)


def clean_price_py(value) -> float | None:
    if not isinstance(value, str):
        return None
    if "unavailable" in value.lower():
        return None
    try:
        return float(_PRICE_STRIP_RE.sub("", value))
    except (ValueError, TypeError):
        return None


def clean_rating_py(value) -> float | None:
    if not isinstance(value, str):
        return None
    low = value.lower()
    if "invalid" in low or "not rated" in low:
        return None
    m = _RATING_RE.search(value)
    if m:
        return float(m.group(1))
    try:
        return float(value.strip())
    except (ValueError, TypeError):
        return None


def clean_colors_py(value) -> int | None:
    if not isinstance(value, str):
        return None
    m = _COLORS_RE.search(value)
    return int(m.group(1)) if m else None


def clean_text_py(value) -> str | None:
    """Transcript text cleaning: strip; sentinel junk → null.

    Mirrors the reference's strip (transform.py:86-89) + sentinel-to-null
    (transform.py:28-29, 43-48) semantics on the transcript payload.
    """
    if value is None or not isinstance(value, str):
        return None
    stripped = value.strip()
    if stripped.lower() in TEXT_SENTINELS:
        return None
    return stripped


# --------------------------------------------------------------------------
# 2. Column-expression variants (JVM, codegen — the 100 TB hot path)
# --------------------------------------------------------------------------


def clean_price_col(c: Column) -> Column:
    return (
        F.when(F.lower(c).contains("unavailable"), F.lit(None).cast("double"))
        .otherwise(F.regexp_replace(c, r"[$,]", "").try_cast("double"))
    )


def clean_rating_col(c: Column) -> Column:
    low = F.lower(c)
    extracted = F.regexp_extract(c, r"(\d(\.\d)?)\s*(?:/|\s|$)", 1)
    return F.when(
        low.contains("invalid") | low.contains("not rated"),
        F.lit(None).cast("double"),
    ).otherwise(
        F.when(extracted != "", extracted.try_cast("double")).otherwise(
            F.trim(c).try_cast("double")
        )
    )


def clean_colors_col(c: Column) -> Column:
    extracted = F.regexp_extract(c, r"(\d+)", 1)
    return F.when(extracted != "", extracted.try_cast("int")).otherwise(
        F.lit(None).cast("int")
    )


def clean_text_col(c: Column) -> Column:
    stripped = F.btrim(c, F.lit(STRIP_CHARS))
    sentinels = F.array(*[F.lit(s) for s in sorted(TEXT_SENTINELS)])
    return F.when(
        F.array_contains(sentinels, F.lower(stripped)), F.lit(None).cast("string")
    ).otherwise(stripped)


# --------------------------------------------------------------------------
# 3. Vectorized pandas UDFs (Arrow path — exact Python-semantics parity)
# --------------------------------------------------------------------------


@F.pandas_udf(T.DoubleType())
def clean_price_pudf(s: pd.Series) -> pd.Series:
    return s.map(clean_price_py)


@F.pandas_udf(T.DoubleType())
def clean_rating_pudf(s: pd.Series) -> pd.Series:
    return s.map(clean_rating_py)


@F.pandas_udf(T.IntegerType())
def clean_colors_pudf(s: pd.Series) -> pd.Series:
    return s.map(clean_colors_py).astype("Int32")


@F.pandas_udf(T.StringType())
def clean_text_pudf(s: pd.Series) -> pd.Series:
    # Vectorized pandas string ops (C-level), not per-row Python.
    stripped = s.str.strip()
    is_sentinel = stripped.str.lower().isin(TEXT_SENTINELS)
    return stripped.mask(is_sentinel)


def clean_texts_pandas(s: pd.Series) -> pd.Series:
    """Oracle-side vectorized equivalent of clean_text_py (shared logic)."""
    stripped = s.astype("string").str.strip()
    return stripped.mask(stripped.str.lower().isin(TEXT_SENTINELS))
