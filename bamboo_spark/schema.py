"""Schema-tree utilities: navigation, rendering, type names.

The reference's node tree (RecordNode/ListNode/PrimitiveNode/IncompleteNode,
reference python/bamboo/nodes.py:439-529) maps 1:1 onto Spark's
StructType/ArrayType/primitive DataType/NullType — see SURVEY.md §1.3.
These helpers treat a DataFrame schema *as* that tree.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import types as T

#: logical-path token marking a hop into an array's element domain
ELEM = "[]"

# Spark type → numpy-style dtype string, for info() parity with the
# reference renderer (nodes.py:265-295 prints `values.dtype`).
_DTYPE_NAMES = {
    T.DoubleType: "float64",
    T.FloatType: "float32",
    T.LongType: "int64",
    T.IntegerType: "int32",
    T.ShortType: "int16",
    T.ByteType: "int8",
    T.BooleanType: "bool",
    T.StringType: "object",
    T.BinaryType: "object",
    T.TimestampType: "datetime64[ns]",
    T.TimestampNTZType: "datetime64[ns]",
    T.DateType: "datetime64[ns]",
    T.NullType: "void",
}


def dtype_name(dtype: T.DataType) -> str:
    for cls, name in _DTYPE_NAMES.items():
        if isinstance(dtype, cls):
            return name
    if isinstance(dtype, T.DecimalType):
        return "object"
    return dtype.simpleString()


def is_incomplete(dtype: T.DataType) -> bool:
    """NullType ≈ the reference's IncompleteNode (all values null so far)."""
    return isinstance(dtype, T.NullType)


def unwrap_arrays(dtype: T.DataType) -> Tuple[T.DataType, int]:
    """Strip array wrappers, returning (inner type, depth stripped)."""
    depth = 0
    while isinstance(dtype, T.ArrayType):
        dtype = dtype.elementType
        depth += 1
    return dtype, depth


def navigate(dtype: T.DataType, name: str) -> T.DataType:
    """Resolve one field name, looking through array wrappers the way the
    reference's ListNode forwards ``_get_subnode`` to its child
    (nodes.py:483-485)."""
    inner, _ = unwrap_arrays(dtype)
    if isinstance(inner, T.StructType):
        if name not in inner.names:
            raise KeyError(
                "No field %r; available: %s" % (name, ", ".join(inner.names))
            )
        return inner[name].dataType
    raise AttributeError("Primitive nodes do not have sub-nodes (field %r)" % name)


def dtype_at(dtype: T.DataType, logical_path: Tuple[str, ...]) -> T.DataType:
    """Resolve a logical path that may contain explicit ELEM hops."""
    for token in logical_path:
        if token == ELEM:
            if isinstance(dtype, T.ArrayType):
                dtype = dtype.elementType
            elif isinstance(dtype, T.MapType):
                dtype = T.StructType(
                    [
                        T.StructField("key", dtype.keyType, False),
                        T.StructField("value", dtype.valueType, dtype.valueContainsNull),
                    ]
                )
            else:
                raise ValueError("ELEM hop on non-array type %s" % dtype)
        else:
            if not isinstance(dtype, T.StructType):
                raise ValueError("Field hop %r on non-struct type %s" % (token, dtype))
            dtype = dtype[token].dataType
    return dtype


def render_info(dtype: T.DataType, depth: int = 3) -> str:
    """Indented schema tree with ``[]`` suffixes — parity with the
    reference's ``node.info()`` (nodes.py:265-295; node_tests.py:237-250
    expects e.g. ``- d []\\n    - b []float64``)."""
    lines = _render(dtype, None, depth, 0)
    return "\n".join(lines)


def _suffix(dtype: T.DataType) -> Tuple[str, T.DataType]:
    suffix = ""
    while isinstance(dtype, T.ArrayType):
        suffix += "[]"
        dtype = dtype.elementType
    if not isinstance(dtype, (T.StructType, T.MapType)):
        suffix += dtype_name(dtype) if not isinstance(dtype, T.NullType) else ""
    return suffix, dtype


def _render(dtype: T.DataType, name: Optional[str], depth: int, indent: int) -> list:
    lines = []
    if name is not None:
        suffix, inner = _suffix(dtype)
        text = ("    " * indent) + "- " + name + (" " + suffix if suffix else " ")
        lines.append(text.rstrip() if not suffix else text)
        child_indent = indent + 1
        next_depth = depth - 1
    else:
        _, inner = _suffix(dtype)
        child_indent = indent
        next_depth = depth
    if isinstance(inner, T.StructType) and next_depth > 0:
        for field in inner.fields:
            lines.extend(_render(field.dataType, field.name, next_depth, child_indent))
    return lines
