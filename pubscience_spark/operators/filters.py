"""Filter/predicate operators (F1-F4) — native Catalyst expressions.

These are the cheap gates that run *before* any pUDF stage (the reference's
cheap-filter-first idiom, ``identify/identify.py:520-554`` → SURVEY.md §4):
native predicates push down to the scan and keep whole-stage codegen intact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .stats import word_count_col


def min_chars(col: str = "text", n: int = 1) -> Column:
    """F1: min character length gate (clean/cleaner.py:275)."""
    return F.length(F.col(col)) >= F.lit(n)


def min_words(col: str = "text", n: int = 10) -> Column:
    """F2: min word-count gate (identify/identify.py:520)."""
    return word_count_col(col) > F.lit(n)


def terms_any(col: str = "text", terms: list[str] | None = None) -> Column:
    """F3: contains-any-term (grep-like). Terms are literal substrings, as in
    the reference (clean/cleaner.py:249-253)."""
    terms = terms or []
    pred = F.lit(False)
    for t in terms:
        pred = pred | F.col(col).contains(t)
    return pred


def include_exclude(col: str = "text", include: list[str] | None = None,
                    exclude: list[str] | None = None) -> Column:
    """F4 conservative mode: any(include) AND NOT any(exclude)
    (identify/identify.py:135-145)."""
    pred = terms_any(col, include) if include else F.lit(True)
    if exclude:
        pred = pred & ~terms_any(col, exclude)
    return pred
