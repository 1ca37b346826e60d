"""Result-filter operators with the reference MCP semantics (Q4/Q5).

Reference (`mcp_server.py:152-177`): after rerank+sort, stream-filter in
order — drop below ``min_score`` (`:154-156`), keep rows inside the
inclusive date range where **unparseable/missing dates pass the filter**
(`:169-171`), stop at ``limit`` (`:175-177`).  Declaratively that is:
filter → ordered limit (the limit is applied in ``plans.search.search``);
Catalyst plans the tail as TakeOrderedAndProject,
and at 100 TB the predicates push down *below* the rerank when the rerank
column isn't involved.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def min_score_filter(df: DataFrame, score_col: str = "rerank_score", min_score: float = 0.0) -> DataFrame:
    """Q4: keep rows with score >= min_score (reference default 0.0)."""
    return df.filter(F.col(score_col) >= F.lit(float(min_score)))


def date_range_filter(
    df: DataFrame,
    date_col: str = "date",
    from_date: str | dt.date | None = None,
    to_date: str | dt.date | None = None,
    null_passes: bool = True,
) -> DataFrame:
    """Q5: inclusive [from_date, to_date]; null/unparseable dates pass through
    (bug-for-bug with `mcp_server.py:169-171` when ``null_passes``)."""
    cond: Column = F.lit(True)
    if from_date is not None:
        cond = cond & (F.col(date_col) >= F.lit(from_date))
    if to_date is not None:
        cond = cond & (F.col(date_col) <= F.lit(to_date))
    if null_passes:
        cond = F.col(date_col).isNull() | cond
    return df.filter(cond)

