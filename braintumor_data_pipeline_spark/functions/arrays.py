"""Array-column helpers shared by the operator modules."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_rows(
    df: DataFrame, arr, name: str, *keep, pos: str | None = None
) -> DataFrame:
    """``df.select(*keep, F.explode(arr).alias(name))`` — or, with
    ``pos``, ``F.posexplode(arr).alias(pos, name)`` — without the filter
    Catalyst infers for an inner generator.

    When the exploded input is a column (an array materialized by a
    projection below), ``InferFiltersFromGenerate`` puts
    ``size(arr) > 0 AND isnotnull(arr)`` under an inner ``explode`` or
    ``posexplode``, and predicate pushdown then inlines the column's
    defining expression into that Filter. For a lambda-built array
    (``transform``, ``filter``, ``zip_with``, ``array_sort``) the Filter
    is not code-generated and builds the whole array a second time per
    row, with every element access re-evaluating the inlined inputs (a
    fresh ``split`` per token, say). An outer generator gets no inferred
    filter, and keeping the rows whose position is not null gives
    exactly ``explode``'s rows: null elements are kept, empty and null
    arrays give no row.

    Use it for every lambda-built array: it stays safe when a refactor
    materializes the array in a projection. A plain
    ``explode(split(text))`` gets no inferred filter and needs no
    helper."""
    p = pos or "_explode_pos"
    rows = df.select(*keep, F.posexplode_outer(arr).alias(p, name)).filter(
        F.col(p).isNotNull()
    )
    return rows if pos else rows.drop(p)
