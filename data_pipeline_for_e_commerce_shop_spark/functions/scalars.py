"""Scalar helpers shared by operators (SURVEY.md §2.8).

Design notes
------------
*Money determinism.* Double summation is order-dependent; at cluster scale
partial-aggregate order is nondeterministic, so ``SUM(double)`` is not
reproducible bit-for-bit run to run.  The reference works around float
drift at its sink boundary by converting floats to ``Decimal``
(reference scripts/helperfunction.py:42-51).  We do it at the source:
money aggregates go through exact integer cents —
``SUM(FLOOR(x * 100))`` — which is associative, overflow-checked, and
bit-identical on any engine (this also makes the DuckDB oracle compare
exact rather than epsilon-based).

*Portable hashing.* Spark's ``hash``/``xxhash64`` don't exist in other
engines; where a hash must be reproducible outside Spark (bloom, CMS
and HLL buckets, sampled draws), ``portable_hash32`` derives a 32-bit
value from ``md5`` hex, which every engine computes identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money_sum(col: Column | str) -> Column:
    """Exact, order-independent money sum -> double (dollars).

    Equivalent oracle SQL: ``SUM(CAST(FLOOR(x*100) AS BIGINT))/100.0``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * 100)) / F.lit(100.0)


def ratio(num: Column, den: Column) -> Column:
    """NULL-safe ratio of two counts (double); avoids ANSI div-by-zero."""
    return F.when(den != 0, num / den)


def portable_hash32(col: Column | str, prefix: str | None = None) -> Column:
    """32-bit md5-derived hash reproducible across engines — the
    single source for every parity-critical bucket/probe hash (bloom,
    CMS, HLL, prefix-filter, sampled draws).

    First 8 hex chars of md5(prefix || CAST(x AS STRING)) -> bigint
    (positive, < 2^32).  DuckDB equivalent:
    ``CAST(('0x' || substr(md5(prefix || CAST(x AS VARCHAR)), 1, 8))
    AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    if prefix is not None:
        s = F.concat(F.lit(prefix), s)
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def event_date(col: Column | str) -> Column:
    """Per-row event date — replaces the reference's single
    ``first().created_at[:10]`` batch date (scripts/validation.py:191),
    which is wrong for batches spanning days."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(c)


def floordiv_sql(a: str, b: str) -> str:
    """SQL fragment for exact-integer FLOOR division, semantics-matched
    to DuckDB's ``//`` on NEGATIVE operands (ADVICE r6: Spark's ``div``
    truncates toward zero, DuckDB's ``//`` floors — the two diverge on
    e.g. pre-1970 timestamps or negative cents, which would surface as
    a cross-engine hash mismatch instead of a clear error).

    ``a - pmod(a, b)`` is the largest floor-multiple of ``b`` at or
    below ``a`` (Spark's pmod is non-negative for b > 0), so truncating
    ``div`` on it equals floor division while staying exact on BIGINTs
    (``floor(a / b)`` on doubles loses exactness past 2^53).
    Requires ``b > 0``; used by every oracle pairing that feeds
    potentially-negative integers through ``//``."""
    return f"(((({a}) - pmod(({a}), ({b}))) div ({b})))"
