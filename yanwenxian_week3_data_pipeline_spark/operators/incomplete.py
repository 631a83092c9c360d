"""flt_drop_incomplete — drop rows where any required column is missing
(null, empty, or whitespace-only). Reference: drop_incomplete_records,
cleaner.py:85-103 (required list cleaner.py:93); intended null semantics per
SURVEY.md §1.4 (the pandas ``astype(str)`` null→"None" artifact is NOT
replicated).

``complete_expr`` is the one completeness predicate of the article funnel:
the batch filter below, the pipeline's ``_complete`` flag and the streaming
twin all use it. Pure filter expression → Catalyst pushes it into the scan
where possible.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import not_missing_expr

REQUIRED_ARTICLE_COLUMNS = ("title", "content", "url")


def complete_expr(columns: list[str], required: tuple[str, ...]) -> Column:
    """TRUE when no ``required`` column among ``columns`` is missing. A
    required column the frame lacks is not checked (cleaner.py:96-97), so
    with none present every row is complete."""
    checks = [not_missing_expr(F.col(c)) for c in required if c in columns]
    return reduce(and_, checks) if checks else F.lit(True)


def drop_incomplete(df: DataFrame, required: tuple[str, ...] = REQUIRED_ARTICLE_COLUMNS) -> DataFrame:
    return df.where(complete_expr(df.columns, required))
