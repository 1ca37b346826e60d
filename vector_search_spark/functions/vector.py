"""Vector column math as native Catalyst expressions.

Reference semantics: Qdrant stores 384-d unit vectors and scores by dot
product, which on unit vectors IS cosine similarity
(`pipeline/store_assets.py:42`, `pipeline/encode_assets.py:30`,
`README.md:78` of the reference).  Here the vector is an
``ArrayType(Float/Double)`` column and the fold is the higher-order
functions ``zip_with``/``aggregate``: no Python, embarrassingly parallel
(no shuffle).  It does NOT run in whole-stage codegen — the HOF
``Project`` carries no codegen marker and evaluates interpreted, per row
and per element.  Batched multi-query scoring therefore goes through the
Arrow-batched scorer in ``operators.knn.similarity_join``, which sums in
this fold's exact order, so its scores are bit-identical to these.

All folds accumulate in DOUBLE regardless of the input element type so
results are reproducible against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Elementwise product folded into a DOUBLE sum: sum_i a[i]*b[i]."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def l2_normalize(a: Column | str) -> Column:
    """Scale to unit length (so downstream dot ≡ cosine); zero vectors pass through."""
    a = F.col(a) if isinstance(a, str) else a
    norm = l2_norm(a)
    return F.when(norm == 0.0, F.transform(a, lambda x: x.cast("double"))).otherwise(
        F.transform(a, lambda x: x.cast("double") / norm)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a||b|) — use :func:`dot_product` directly on unit vectors."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
