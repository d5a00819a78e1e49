"""The previous ``from_object`` builder, kept as a test oracle.

It typed every value as a PySpark ``DataType`` (``infer_type``), merged
the types pairwise (``merge_types``), re-walked the document into row
tuples (``_normalize``) and built the frame with ``_localdf.local_df``
(one Arrow batch, classic ``createDataFrame`` on any Arrow failure).
``bamboo_spark.sources.obj`` now resolves the schema once and converts
the document with one ``pyarrow.array`` call; the property tests in
``tests/test_obj_arrow.py`` check that both give the same schema, field
order, rows and errors.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import time as _time
from enum import Enum
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession, types as T

try:
    import numpy as np
except ImportError:  # pragma: no cover
    np = None

from bamboo_spark._localdf import local_df

DEFAULT_COLUMN = "value"

_PRIMITIVE_SPARK = {
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    bytes: T.BinaryType(),
    bytearray: T.BinaryType(),
    _dt.datetime: T.TimestampType(),
    _dt.date: T.DateType(),
    _decimal.Decimal: T.DecimalType(38, 18),
}


def _is_listish(obj: Any, dict_as_record: bool) -> bool:
    if isinstance(obj, (list, tuple, set, frozenset)):
        return True
    if np is not None and isinstance(obj, np.ndarray):
        return True
    if isinstance(obj, dict) and not dict_as_record:
        return True
    return False


class _KeyValue:
    """Record view of one dict entry (dict_as_record=False mode), like the
    reference's KeyValuePair (converters/obj.py:25-28)."""

    def __init__(self, key, value):
        self.key = key
        self.value = value


def _as_list(obj: Any, dict_as_record: bool) -> list:
    if isinstance(obj, dict) and not dict_as_record:
        return [_KeyValue(k, v) for k, v in obj.items()]
    if np is not None and isinstance(obj, np.ndarray):
        return obj.tolist()
    return list(obj)


def _fields(obj: Any) -> dict:
    if isinstance(obj, dict):
        return obj
    return vars(obj)


def _primitive_type(obj: Any) -> Optional[T.DataType]:
    if isinstance(obj, Enum):
        return T.StringType()
    if np is not None and isinstance(obj, np.generic):
        obj = obj.item()
    for py, spark in _PRIMITIVE_SPARK.items():
        # bool before int: Python bool subclasses int
        if type(obj) is py or (py not in (bool, int) and isinstance(obj, py)):
            return spark
    if isinstance(obj, bool):
        return T.BooleanType()
    if isinstance(obj, int):
        return T.LongType()
    if isinstance(obj, float):
        return T.DoubleType()
    return None


def infer_type(obj: Any, dict_as_record: bool = True) -> T.DataType:
    if obj is None:
        return T.NullType()
    if _is_listish(obj, dict_as_record):
        elem = T.NullType()
        for item in _as_list(obj, dict_as_record):
            elem = merge_types(elem, infer_type(item, dict_as_record))
        return T.ArrayType(elem, True)
    prim = _primitive_type(obj)
    if prim is not None:
        return prim
    fields = _fields(obj)
    return T.StructType(
        [
            T.StructField(name, infer_type(value, dict_as_record), True)
            for name, value in fields.items()
        ]
    )


def merge_types(a: T.DataType, b: T.DataType) -> T.DataType:
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(merge_types(a.elementType, b.elementType), True)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fields = {}
        order = []
        for f in list(a.fields) + list(b.fields):
            if f.name not in fields:
                fields[f.name] = f.dataType
                order.append(f.name)
            else:
                fields[f.name] = merge_types(fields[f.name], f.dataType)
        return T.StructType([T.StructField(n, fields[n], True) for n in order])
    if type(a) is type(b):
        return a
    numeric = (T.LongType, T.DoubleType)
    if isinstance(a, numeric) and isinstance(b, numeric):
        return T.DoubleType()
    if isinstance(a, (T.StructType, T.ArrayType)) or isinstance(b, (T.StructType, T.ArrayType)):
        raise ValueError("Inconsistent schema: %s vs %s" % (a.simpleString(), b.simpleString()))
    raise ValueError(
        "Mismatched primitive types: %s vs %s" % (a.simpleString(), b.simpleString())
    )


class _Unpinnable(Exception):
    """A naive datetime whose UTC instant lies outside years 1..9999."""


def _normalize(
    obj: Any, dtype: T.DataType, dict_as_record: bool, pin: bool = True
) -> Any:
    """Convert to the tuple/list shape createDataFrame expects for dtype.
    With ``pin``, naive datetimes become aware UTC (see below)."""
    if obj is None:
        return None
    if isinstance(dtype, T.ArrayType):
        return [
            _normalize(item, dtype.elementType, dict_as_record, pin)
            for item in _as_list(obj, dict_as_record)
        ]
    if isinstance(dtype, T.MapType):
        return {
            k: _normalize(v, dtype.valueType, dict_as_record, pin)
            for k, v in obj.items()
        }
    if isinstance(dtype, T.StructType):
        fields = _fields(obj)
        return tuple(
            _normalize(fields.get(f.name), f.dataType, dict_as_record, pin)
            if f.name in fields
            else None
            for f in dtype.fields
        )
    if isinstance(obj, Enum):
        return obj.name
    if np is not None and isinstance(obj, np.generic):
        obj = obj.item()
    if pin and isinstance(dtype, T.TimestampType) and obj.tzinfo is None:
        # a naive datetime is local wall time (the classic builder's
        # time.mktime rule); pin the instant as UTC so the Arrow path,
        # which would read a naive value as UTC, builds the same value
        try:
            secs = int(_time.mktime(obj.timetuple()))
            return _dt.datetime.fromtimestamp(secs, _dt.timezone.utc).replace(
                microsecond=obj.microsecond
            )
        except (OverflowError, OSError, ValueError):
            raise _Unpinnable()
    if isinstance(dtype, T.DoubleType) and isinstance(obj, int) and not isinstance(obj, bool):
        return float(obj)
    if isinstance(dtype, T.DecimalType) and isinstance(obj, int):
        return _decimal.Decimal(obj)
    if isinstance(dtype, T.FloatType) and isinstance(obj, (int, float)):
        return float(obj)
    if isinstance(dtype, T.BinaryType) and isinstance(obj, bytearray):
        return bytes(obj)
    return obj


def oracle_frame(
    spark: SparkSession, obj: Any, dict_as_record: bool = True
) -> DataFrame:
    """The previous ``from_object(obj, dict_as_record).df``."""
    dtype = infer_type(obj, dict_as_record)
    if isinstance(dtype, T.NullType):
        return spark.createDataFrame([], T.StructType([]))
    if isinstance(dtype, T.ArrayType):
        elem = dtype.elementType
        items = _as_list(obj, dict_as_record) if obj is not None else []
        if isinstance(elem, T.StructType):
            schema = elem

            def rows(pin):
                return [_normalize(i, elem, dict_as_record, pin) for i in items]

        else:
            schema = T.StructType([T.StructField(DEFAULT_COLUMN, elem, True)])

            def rows(pin):
                return [(_normalize(i, elem, dict_as_record, pin),) for i in items]

    elif isinstance(dtype, T.StructType):
        schema = dtype

        def rows(pin):
            return [_normalize(obj, dtype, dict_as_record, pin)]

    else:
        schema = T.StructType([T.StructField(DEFAULT_COLUMN, dtype, True)])

        def rows(pin):
            return [(_normalize(obj, dtype, dict_as_record, pin),)]

    try:
        return local_df(spark, rows(True), schema)
    except _Unpinnable:
        return spark.createDataFrame(rows(False), schema)
