"""``from_json`` — one JSON document/stream → Dataset (inference path).

Parity with the reference (python/bamboo/core.py:49-54,
cpp/src/json.cpp:25-77): type per value — null→unknown, array→repetition,
object→record, scalar→primitive (string/bool/int/double). Field sets
union across rows; type mismatches raise. ``from_json`` types and
builds the parsed document the way ``from_object`` does (one inference
walk, one Arrow table).

Scale path: ``read_json`` delegates to ``spark.read.json`` so schema
inference and parsing run distributed on the executors — use it for
anything bigger than a single document. ``from_json`` is the API-parity
single-document path (the reference parses the whole document in memory
too, json.cpp:26-27).
"""

from __future__ import annotations

import io
import json
from typing import Any, Optional, Union

from pyspark.sql import SparkSession

from bamboo_spark.dataset import Dataset
from bamboo_spark.sources.obj import _frame


def from_json(
    s: Union[str, bytes, io.IOBase, Any], spark: Optional[SparkSession] = None
) -> Dataset:
    if isinstance(s, SparkSession):
        raise TypeError(
            "from_json(document, spark=...) — the JSON document comes first "
            "(reference-parity signature, core.py:49-54)"
        )
    if hasattr(s, "read"):
        s = s.read()
    if isinstance(s, (bytes, bytearray)):
        s = s.decode("utf-8")
    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()
    # parsed JSON is plain already: no pre-pass, straight to inference
    return Dataset(_frame(spark, json.loads(s)))


def read_json(
    path: str,
    spark: Optional[SparkSession] = None,
    multiLine: bool = True,
    **options: Any,
) -> Dataset:
    """Distributed JSON ingestion via the native reader (schema inference,
    predicate/projection pushdown into the scan)."""
    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()
    reader = spark.read.option("multiLine", multiLine)
    for key, value in options.items():
        reader = reader.option(key, value)
    return Dataset(reader.json(path))
