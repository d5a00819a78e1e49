"""``from_object`` — infer a nested dataset from live Python values.

Behavioral parity with the reference's pure-Python path
(reference python/bamboo/converters/obj.py:31-76, nodes.py:542-580):

* ``None`` → unknown (NullType ≈ IncompleteNode); a field that stays
  all-null keeps NullType and is dropped at flatten.
* ``list``/``set``/``tuple``/``np.ndarray`` → repetition (ArrayType).
* ``dict`` → record by default; with ``dict_as_record=False`` a dict is a
  *list of {key, value} records* (the reference's only map-ish form).
* other objects with attributes → record over ``vars(obj)``.
* ``int/float/bool/str/bytes/Enum`` → primitive; Enum ingests as its
  symbol name (string), matching the dictionary-to-string semantics of
  the reference's ENUM type at the pandas boundary. ``datetime``/``date``
  → timestamp/date (a naive datetime is local time, as Spark reads it);
  ``Decimal`` → decimal(38, 18), the type Spark itself infers.
* records union their field sets across rows; missing fields → null.
* kind mismatches across rows raise ``Inconsistent schema``; primitive
  mismatches raise ``Mismatched primitive types`` (int+float widens to
  double — documented divergence: the reference's numpy buffer would
  silently coerce instead).

Build (the reference's one-walk columnar builder, PAPER.md §1.1): the
schema is resolved once per document and the values are handed to
Arrow in one call. A value-only pre-pass (``_plain``) turns what Arrow
cannot take — Enums, attribute objects, key/value dicts, numpy values,
naive datetimes — into plain values; ``from_json`` input is plain
already and skips it. One walk over the plain values (``_infer``)
yields the type as cheap tags and raises the named errors; each
schema node becomes a Spark type once; ``pyarrow.array`` converts the
whole document against that type in C, and ``createDataFrame`` takes
the ``pyarrow.Table`` as one local batch. Whatever the Arrow build
cannot express (an int outside int64, a Decimal finer than 18 places,
a string with lone surrogates, a naive datetime whose UTC instant
falls outside years 1..9999) goes to the classic
``createDataFrame(rows, schema)`` builder instead, so such documents
build exactly as that builder builds them. A root list that mixes
records and nulls raises a ``ValueError`` naming the null item.
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

from bamboo_spark.dataset import Dataset

DEFAULT_COLUMN = "value"

# Type tags of the inference walk: None is unknown (all-null so far), a
# str is a primitive (its Spark simpleString), a 1-tuple ``(elem,)`` is
# an array and a dict of name → tag a record in first-seen field order.
_SPARK = {
    "boolean": T.BooleanType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    # Spark's own inference type for Python Decimals
    "decimal(38,18)": T.DecimalType(38, 18),
}
_LEAF = {
    bool: "boolean",
    int: "bigint",
    float: "double",
    str: "string",
    bytes: "binary",
    _dt.datetime: "timestamp",
    _dt.date: "date",
    _decimal.Decimal: "decimal(38,18)",
}
# subclasses, in the order the exact types above are tried (a datetime
# is a date, a bool is an int)
_LEAF_BASES = (
    (float, "double"),
    (str, "string"),
    (bytes, "binary"),
    (_dt.datetime, "timestamp"),
    (_dt.date, "date"),
    (_decimal.Decimal, "decimal(38,18)"),
    (int, "bigint"),
)
_PRIMITIVE = tuple(_LEAF) + (bytearray,)


class _Unpinnable(Exception):
    """A naive datetime whose UTC instant lies outside years 1..9999."""


def _pin(ts: _dt.datetime) -> _dt.datetime:
    """A naive datetime is local wall time (the classic builder's
    time.mktime rule); pin the instant as aware UTC so Arrow, which
    reads a naive value as UTC, builds the same value."""
    try:
        secs = int(_time.mktime(ts.timetuple()))
        return _dt.datetime.fromtimestamp(secs, _dt.timezone.utc).replace(
            microsecond=ts.microsecond
        )
    except (OverflowError, OSError, ValueError):
        raise _Unpinnable()


def _plain(obj: Any, kv: bool, pin: bool) -> Any:
    """The value-only pre-pass: the same document in the plain values
    Arrow takes (dict, list, None and the ``_LEAF`` primitives)."""
    if obj is None:
        return None
    if isinstance(obj, (list, tuple, set, frozenset)):
        return [_plain(x, kv, pin) for x in obj]
    if np is not None and isinstance(obj, np.ndarray):
        return [_plain(x, kv, pin) for x in obj.tolist()]
    if isinstance(obj, dict):
        if kv:
            # the reference's KeyValuePair view (converters/obj.py:25-28)
            return [
                {"key": _plain(k, kv, pin), "value": _plain(x, kv, pin)}
                for k, x in obj.items()
            ]
        return {k: _plain(x, kv, pin) for k, x in obj.items()}
    if isinstance(obj, Enum):
        return obj.name
    value = obj.item() if np is not None and isinstance(obj, np.generic) else obj
    if isinstance(value, _PRIMITIVE):
        if isinstance(value, bytearray):
            return bytes(value)
        if pin and isinstance(value, _dt.datetime) and value.tzinfo is None:
            return _pin(value)
        return value
    return {k: _plain(x, kv, pin) for k, x in vars(obj).items()}


def _spark_type(tag: Any) -> T.DataType:
    if tag is None:
        return T.NullType()
    if type(tag) is tuple:
        return T.ArrayType(_spark_type(tag[0]), True)
    if type(tag) is dict:
        return T.StructType(
            [T.StructField(name, _spark_type(t), True) for name, t in tag.items()]
        )
    return _SPARK[tag]


def _infer(doc: Any):
    """Type tag of a plain document, and whether an int met a double
    (those ints must become floats before either builder sees them).
    Values are typed and merged in the order the classic per-value
    inference used, so the first conflict raises the same error."""
    widened = False

    def merge(a, b):
        nonlocal widened
        if a == b or b is None:
            return a
        if a is None:
            return b
        ta, tb = type(a), type(b)
        if ta is tuple and tb is tuple:
            return (merge(a[0], b[0]),)
        if ta is dict and tb is dict:
            out = dict(a)
            for name, t in b.items():
                out[name] = merge(out[name], t) if name in out else t
            return out
        if ta is str and tb is str and {a, b} == {"bigint", "double"}:
            widened = True
            return "double"
        pair = (_spark_type(a).simpleString(), _spark_type(b).simpleString())
        if ta is not str or tb is not str:
            raise ValueError("Inconsistent schema: %s vs %s" % pair)
        raise ValueError("Mismatched primitive types: %s vs %s" % pair)

    def infer(v):
        t = type(v)
        if t is dict:
            return {name: infer(x) for name, x in v.items()}
        if t is list:
            elem = None
            for x in v:
                elem = merge(elem, infer(x))
            return (elem,)
        if v is None:
            return None
        tag = _LEAF.get(t)
        if tag is None:
            tag = next(tag for base, tag in _LEAF_BASES if isinstance(v, base))
        return tag

    return infer(doc), widened


def _rows(v: Any, tag: Any) -> Any:
    """``v`` in the classic builder's row shape for ``tag``: records as
    tuples in field order, ints under a double tag as floats."""
    if v is None:
        return None
    if type(tag) is dict:
        return tuple(_rows(v.get(name), t) for name, t in tag.items())
    if type(tag) is tuple:
        return [_rows(x, tag[0]) for x in v]
    if tag == "double":
        return float(v)
    return v


def _arrow_table(rows: list, schema: T.StructType, record: bool):
    """One ``pyarrow.Table`` for the rows: records convert as one struct
    array, a value column as one array."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    asch = to_arrow_schema(schema)
    if record:
        columns = pa.array(rows, type=pa.struct(asch)).flatten()
    else:
        columns = [pa.array(rows, type=asch[0].type)]
    return pa.Table.from_arrays(columns, schema=asch)


def _frame(spark: SparkSession, doc: Any, arrow: bool = True) -> DataFrame:
    """The frame of a plain document; ``arrow=False`` goes straight to
    the classic builder."""
    tag, widened = _infer(doc)
    if tag is None:
        return spark.createDataFrame([], T.StructType([]))
    # a root list holds the rows; anything else is one row
    items, row = (doc, tag[0]) if type(tag) is tuple else ([doc], tag)
    record = type(row) is dict
    if record and None in items:
        # neither builder may see it: the classic one would accept it
        # and fail at the frame's first action
        raise ValueError(
            "root list item %d is null: a null record has no row"
            % items.index(None)
        )
    schema = _spark_type(row if record else {DEFAULT_COLUMN: row})
    if arrow:
        data = [_rows(v, row) for v in items] if widened else items
        try:
            return spark.createDataFrame(_arrow_table(data, schema, record), schema)
        except Exception:  # noqa: BLE001 — exactness first: classic builder
            pass
    rows = [_rows(v, row) for v in items]
    return spark.createDataFrame(rows if record else [(v,) for v in rows], schema)


def from_object(
    obj: Any, dict_as_record: bool = True, spark: Optional[SparkSession] = None
) -> Dataset:
    """Build a Dataset from live Python objects (reference core.py:30-33).

    A root-level list becomes the DataFrame's rows; a root record becomes
    a single row; a root primitive becomes one row of a single
    ``value`` column (the reference leaves it unnamed — documented
    divergence, SURVEY.md §2 behavior 8).

    The rows are already on the driver, so the frame is one
    ``pyarrow.Table`` batch (a ``LocalTableScan``), not a pickled-row
    RDD; see the module docstring for the values that take the classic
    builder instead.
    """
    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()
    kv = not dict_as_record
    try:
        return Dataset(_frame(spark, _plain(obj, kv, True)))
    except _Unpinnable:
        # the classic builder converts such a value without overflow
        return Dataset(_frame(spark, _plain(obj, kv, False), False))
