"""Read-time include/exclude projection (clusion pushdown).

The reference pushes clusions into its Avro/PBD decoders so excluded
columns are never parsed (reference cpp/src/avro_direct.cpp:107-166,
pbd.cpp:50-83). The Spark-first equivalent is a *nested projection*:
rebuild each kept top-level column keeping only included subtrees, and
let Catalyst's column pruning + nested-schema pruning push the result
into the scan — excluded leaves are then never read from Parquet/ORC.

Inclusion rule (same as flatten's; reference columns.hpp:405-427 +
avro_tests.py:223-250):
  included(node) = node explicitly included
                   OR (parent included AND node not explicitly excluded)
  root is included when no includes were given at all, or when the root
  itself is explicitly included (the ``include=[{}, ...]`` idiom).
A subtree is kept iff it contains at least one included leaf.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F, types as T

from bamboo_spark.clusions import ColumnFilter


def apply_column_filter(df: DataFrame, include: Any, exclude: Any) -> DataFrame:
    fltr = ColumnFilter.parse(include, exclude)
    if fltr.include.is_nothing() and fltr.exclude.is_nothing():
        return df
    # the root's own flags count as for any record (an explicit empty
    # exclusion drops every column), as in prune_schema and flatten
    included = _included(fltr, fltr.include.explicit or fltr.include.is_nothing())
    out = []
    for field in df.schema.fields:
        child = fltr.child(field.name)
        if not _keeps(field.dataType, child, included):
            continue
        from bamboo_spark.flatten import quote_col

        out.append(
            _project(
                F.col(quote_col(field.name)), field.dataType, child, included
            ).alias(field.name)
        )
    return df.select(*out)


def _included(fltr: ColumnFilter, parent_included: bool) -> bool:
    return fltr.include.explicit or (parent_included and not fltr.exclude.explicit)


def _keeps(dtype: T.DataType, fltr: ColumnFilter, parent_included: bool) -> bool:
    """Does this subtree contain at least one included leaf?"""
    included = _included(fltr, parent_included)
    if isinstance(dtype, T.ArrayType):
        return _keeps(dtype.elementType, fltr, parent_included)
    if isinstance(dtype, T.StructType):
        return any(
            _keeps(f.dataType, fltr.child(f.name), included) for f in dtype.fields
        )
    return included


def prune_schema(
    dtype: T.DataType, fltr: ColumnFilter, parent_included: bool
) -> T.DataType:
    """Type-level twin of ``_project``: the schema ``apply_column_filter``
    would produce, without a DataFrame. Used by decoders that prune at
    decode time (Avro/PBD pushdown) so their output schema matches what
    the Catalyst nested projection would have selected."""
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(prune_schema(dtype.elementType, fltr, parent_included), True)
    if isinstance(dtype, T.StructType):
        included = _included(fltr, parent_included)
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    prune_schema(f.dataType, fltr.child(f.name), included),
                    True,
                )
                for f in dtype.fields
                if _keeps(f.dataType, fltr.child(f.name), included)
            ]
        )
    return dtype


def _project(
    expr: Column, dtype: T.DataType, fltr: ColumnFilter, parent_included: bool
) -> Column:
    """Rebuild ``expr`` keeping only included subtrees. Only called on
    subtrees for which ``_keeps`` is true."""
    included = _included(fltr, parent_included)

    if isinstance(dtype, T.ArrayType):
        if isinstance(dtype.elementType, (T.StructType, T.ArrayType)):
            return F.transform(
                expr, lambda x: _project(x, dtype.elementType, fltr, parent_included)
            )
        return expr

    if isinstance(dtype, T.StructType):
        kept = [
            _project(
                expr.getField(f.name), f.dataType, fltr.child(f.name), included
            ).alias(f.name)
            for f in dtype.fields
            if _keeps(f.dataType, fltr.child(f.name), included)
        ]
        # a null record must stay null, not become a struct of nulls
        return F.when(expr.isNotNull(), F.struct(*kept))

    return expr
