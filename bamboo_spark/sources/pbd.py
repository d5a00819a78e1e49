"""``from_pbd`` — length-prefixed protobuf records (PBD format) → Dataset.

The PBD container (reference cpp/src/pbd.cpp, pbd.hpp) is: an embedded
``FileDescriptorSet`` followed by length-prefixed protobuf messages.
The Spark-native scale path is ``spark.read.format("protobuf")`` /
``F.from_protobuf`` (Spark 3.4+), which honors proto2 default-value
semantics. Neither the spark-protobuf module nor a protobuf runtime is
available in this container, so this source ships a pure-Python
wire-format decoder (see _pbd_py) covering the subset the reference
exercises: varint/zigzag/fixed scalars, length-delimited fields, packed
and unpacked repeated fields, nested messages, enums, and proto2
default-value fill for missing fields (pbd.cpp:233-278).

Execution model (the 100 TB shape, reference parity at pbd_tests.py:42-58):

1. Driver parses the descriptor header and walks the varint length
   prefixes to find record *boundaries* — a metadata pass that slices and
   decodes nothing.
2. include/exclude clusions prune the descriptor tree BEFORE decode
   (prune_message_desc): excluded fields hit the wire-skip fast path on
   executors, their bytes never parsed (reference pbd.cpp:50-83,
   pbd.hpp:176-207).
3. The boundary walk coalesces into at most ``defaultParallelism``
   record-balanced byte ranges, and the wire decode runs on executors in
   one ``spark.range(n, numPartitions=n).mapInArrow`` job — task ``i``
   decodes range ``i`` (sources/_splits.py): Arrow-batched, parallel
   across cores / a cluster, no shuffle, rows in file order. A path
   source is re-read range-wise by each task (DFS-friendly); a
   bytes/stream source is broadcast once.
"""

from __future__ import annotations

import io
import os
from typing import Any, Optional, Union

from pyspark.sql import SparkSession

from bamboo_spark.clusions import ColumnFilter
from bamboo_spark.dataset import Dataset
from bamboo_spark.sources._pbd_py import (
    PbdDecodeError,
    check_wire_compat,
    decode_range,
    parse_header,
    parse_header_stream,
    pbd_to_spark,
    prune_message_desc,
    scan_record_splits,
)
from bamboo_spark.sources._splits import (
    TARGET_RECORDS_PER_SPLIT,
    decode_splits,
    plan_splits,
)
from bamboo_spark.sources._stream import ChunkedReader, open_source, resolve_source


def from_pbd(
    source: Union[bytes, io.IOBase, str, Any],
    include: Any = None,
    exclude: Any = None,
    spark: Optional[SparkSession] = None,
) -> Dataset:
    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()

    # conflict validation first (raises ClusionError before any Spark job)
    fltr = ColumnFilter.parse(include, exclude)

    path, data = resolve_source(source, spark.sparkContext.master or "local")

    # bounded-memory metadata pass: header + varint boundary walk in
    # O(buffer) chunks, record payloads seek-skipped (reference
    # analogue: the 64 KiB buffered stream, bind.cpp:131-168)
    with open_source(path, data) as fh:
        reader = ChunkedReader(fh, error_cls=PbdDecodeError)
        root, _body = parse_header_stream(reader)
        if include is not None or exclude is not None:
            implicit_root = fltr.include.explicit or fltr.include.is_nothing()
            root = prune_message_desc(root, fltr, implicit_root)
        schema = pbd_to_spark(root)
        raw_splits = scan_record_splits(reader, TARGET_RECORDS_PER_SPLIT)
    splits = plan_splits(raw_splits, spark.sparkContext.defaultParallelism)
    if not splits:
        return Dataset(spark.createDataFrame([], schema))

    bc = None if path is not None else spark.sparkContext.broadcast(data)

    def decode(split):
        start, end = split
        if bc is not None:
            return [decode_range(bc.value, start, end, root)]
        with open(path, "rb") as fh:
            fh.seek(start)
            buf = fh.read(end - start)
        return [decode_range(buf, 0, len(buf), root)]

    return Dataset(decode_splits(spark, splits, decode, schema))


def read_pbd(
    paths: Union[str, list],
    include: Any = None,
    exclude: Any = None,
    spark: Optional[SparkSession] = None,
) -> Dataset:
    """Distributed MULTI-FILE PBD read — the many-files scale path.

    One decode task per file; each task opens its file, parses the
    descriptor header, prunes it with the clusions, and wire-decodes —
    NO file bytes ever pass through the driver (it reads only the first
    file's header to fix the output schema; every task re-derives and
    validates its own). This is how a 100 TB PBD dataset (thousands of
    container files on a DFS) parallelizes; for one huge file use
    ``from_pbd``, which splits a single record stream by byte ranges.
    """
    import glob as _glob

    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()
    if isinstance(paths, str):
        files = sorted(os.path.abspath(p) for p in _glob.glob(paths)) or [
            os.path.abspath(paths)
        ]
    else:
        files = [os.path.abspath(p) for p in paths]
    if not files:
        raise ValueError("read_pbd: no input files")

    fltr = ColumnFilter.parse(include, exclude)
    implicit_root = fltr.include.explicit or fltr.include.is_nothing()
    has_filter = include is not None or exclude is not None

    with open(files[0], "rb") as fh:
        root, _ = parse_header_stream(
            ChunkedReader(fh, error_cls=PbdDecodeError)
        )
    if has_filter:
        root = prune_message_desc(root, fltr, implicit_root)
    schema = pbd_to_spark(root)
    first = files[0]

    def decode(p):
        with open(p, "rb") as fh:
            data = fh.read()
        # schema evolution: decode with the READER descriptor. Protobuf
        # resolution is by field number — writer-only fields wire-skip,
        # reader-only fields default-fill, varint widenings
        # (int32→int64) decode natively; the per-file descriptor is
        # parsed only to reject wire-class changes up front
        # (check_wire_compat docstring).
        file_root, body = parse_header(data)
        try:
            check_wire_compat(root, file_root)
        except PbdDecodeError as e:
            raise PbdDecodeError("PBD file %s vs %s: %s" % (p, first, e))
        return [decode_range(data, body, len(data), root)]

    return Dataset(decode_splits(spark, files, decode, schema))
