"""Filter by a driver-visible key set: a literal ``IN`` list while it is
small (it pushes into the parquet scan, skipping row groups on a
key-sorted layout), a broadcast left-semi join past ``MAX_ISIN_LITERALS``
(a 10k-query batch once produced tens of thousands of literals and blew
up Catalyst analysis and codegen time)."""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ISIN_LITERALS = 1000


def isin_or_semi_join(
    df: DataFrame,
    col: str,
    values: Sequence,
    values_df: DataFrame,
    max_literals: Optional[int] = None,
) -> DataFrame:
    """``df WHERE col IN values``; ``values_df`` holds the same keys in
    column ``col`` and is only read past ``max_literals`` (default
    ``MAX_ISIN_LITERALS``)."""
    limit = MAX_ISIN_LITERALS if max_literals is None else max_literals
    if len(values) <= limit:
        return df.where(F.col(col).isin(list(values)))
    return df.join(F.broadcast(values_df), col, "left_semi")
