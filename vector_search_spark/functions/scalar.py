"""Scalar query-path functions (reference E4/E5).

- sigmoid: `query.py:16-18` of the reference (logit → probability)
- relevance label: `query.py:21-27` (logit ≥3 high / ≥0 medium / else low)

Both are pure Catalyst expressions (SURVEY.md §2.3) — no UDF.  The
SQL-text helpers below (``_CENTS``, ``_fdiv``) are shared by the query
registry's modules for their DuckDB oracles and shared expression text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round4(x: Column | str) -> Column:
    """Portable 4-dp rounding: floor(x*1e4 + 0.5)/1e4.

    Engine-independent on the SAME double input (floor is exact), unlike
    ``round``: DuckDB rounds the shortest decimal repr (0.48014999… →
    "0.48015" → 0.4802) while Spark/Java round the binary value (→ 0.4801).
    Every float the engine emits for oracle comparison goes through this.
    SQL twin: ``floor((x)*10000 + 0.5)/10000.0``.
    """
    x = F.col(x) if isinstance(x, str) else x
    return F.floor(x.cast("double") * 10000.0 + F.lit(0.5)) / 10000.0


# SQL twin of ``operators.relational.cents``: money to integer cents, as
# ``_CENTS.format(x=...)``.
_CENTS = "floor({x}*100 + 0.5)::BIGINT"


def _fdiv(a: str, b: str) -> str:
    """Floor division as shared SQL text, exact on negatives in BOTH
    engines: Spark's ``DIV`` truncates toward zero while DuckDB's ``//``
    floors, so neither operator is portable once residual sums go
    negative.  ``a - pmod(a, b)`` is divisible by ``b`` exactly, and both
    engines' ``%`` is C-style truncated remainder, so the text below is
    engine-independent (the double divide is exact: the quotient is an
    integer < 2^53)."""
    return (
        f"CAST((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) / ({b}) AS BIGINT)"
    )


def sigmoid(x: Column | str) -> Column:
    x = F.col(x) if isinstance(x, str) else x
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x.cast("double")))


def relevance_label(score: Column | str) -> Column:
    """Reference labels green/yellow/red (`query.py:21-27`); semantic names here."""
    score = F.col(score) if isinstance(score, str) else score
    return (
        F.when(score >= 3.0, F.lit("high"))
        .when(score >= 0.0, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
