"""Scalar query-path functions (reference E4/E5).

- sigmoid: `query.py:16-18` of the reference (logit → probability)
- relevance label: `query.py:21-27` (logit ≥3 high / ≥0 medium / else low)
- salted_hash: the engine's one deterministic hash, the leading hex digits
  of md5(salt || id) as a BIGINT.  Every seeded draw (train/eval split,
  A/B arm, CV fold, shard, negative sample, HLL/CMS/Bloom register) is
  built from it; ``split_bucket`` is its train/eval instance.

All are pure Catalyst expressions (SURVEY.md §2.3) — no UDF.  The
SQL-text helpers below (``_CENTS``, ``_fdiv``, ``salted_hash_sql``,
``_SQL_SPLIT_BUCKET``) are shared by the query registry's modules for
their DuckDB oracles and shared expression text.
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


def salted_hash(
    salt: str,
    col: Column | str,
    col2: Column | str | None = None,
    *,
    sep: str = ":",
    digits: int = 8,
) -> Column:
    """Non-negative BIGINT from the first ``digits`` (8 or 15) hex digits
    of ``md5(salt || col [|| sep || col2])``, ids cast to string.  NULL in,
    NULL out.  Callers apply their own ``% n``, shift or threshold.  SQL
    twin: ``salted_hash_sql``."""
    parts = [F.lit(salt), (F.col(col) if isinstance(col, str) else col).cast("string")]
    if col2 is not None:
        parts += [F.lit(sep), (F.col(col2) if isinstance(col2, str) else col2).cast("string")]
    return F.conv(F.substring(F.md5(F.concat(*parts)), 1, digits), 16, 10).cast("long")


def salted_hash_sql(
    salt: str, col: str, col2: str | None = None, *, sep: str = ":", digits: int = 8
) -> str:
    """DuckDB text of ``salted_hash``: ``col``/``col2`` are SQL terms (wrap
    a compound expression in parentheses) and ``salt``/``sep`` are quoted
    as literals."""
    text = f"'{salt}' || {col}::VARCHAR"
    if col2 is not None:
        text += f" || '{sep}' || {col2}::VARCHAR"
    return f"('0x' || substr(md5({text}), 1, {digits}))::BIGINT"


def split_bucket(id_col: str) -> Column:
    """Train/eval bucket of an id in [0, 100): the salted hash of the id
    mod 100.  A bucket below 90 is train, the rest eval.  SQL twin (over
    ``doc_id``): ``_SQL_SPLIT_BUCKET``."""
    return salted_hash("split:", id_col) % 100


_SQL_SPLIT_BUCKET = salted_hash_sql("split:", "doc_id") + " % 100"


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
