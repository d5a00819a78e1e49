"""``from_avro`` / ``read_avro_py`` — Avro container files → Dataset.

A minimal pure-Python Avro container decoder (null/deflate codecs) with
the execution shape of a distributed connector: the driver scans only
block *headers* and plans record-balanced block ranges, and the value
decode runs on executors inside one range-driven ``mapInArrow`` job
(sources/_splits.py); Avro blocks are the spec's independent decode
unit.

Read-time ``include``/``exclude`` follow the reference's pushdown
semantics (avro_direct.cpp:107-166): pruned at decode time — each decode
task compiles the schema and filter once (``_avro_py.compile_decoder``),
excluded fields compile to skip closures that walk but never
materialize — and the output schema is pruned with the exact rule the
Catalyst nested projection uses (projection.prune_schema), so a decode
selects the same columns as a Catalyst projection of the full frame.
"""

from __future__ import annotations

import io
import os
from typing import Any, Iterator, Optional, Union

from pyspark.sql import SparkSession, types as T

from bamboo_spark.clusions import ColumnFilter
from bamboo_spark.dataset import Dataset
from bamboo_spark.projection import prune_schema
from bamboo_spark.sources._avro_py import (
    AvroDecodeError,
    avro_to_spark,
    compile_decoder,
    decompress_block,
    read_blocks,
    scan_blocks_stream,
    scan_header_stream,
)
from bamboo_spark.sources._splits import decode_splits, plan_splits
from bamboo_spark.sources._stream import ChunkedReader, open_source, resolve_source
from bamboo_spark.sources.obj import DEFAULT_COLUMN

def _block_records(
    reader: ChunkedReader,
    end: int,
    sync: bytes,
    codec: str,
    schema: Any,
    writer_schema: Any,
    fltr: Optional[ColumnFilter],
    implicit_root: bool,
) -> Iterator[list]:
    """Decode the blocks whose headers lie in ``[reader.tell(), end)``,
    one record list per block. With ``writer_schema`` the blocks were
    written under it and resolve against the reader ``schema``. The
    decoder is compiled once, at the first block that holds records."""
    decode = None
    for n, payload in read_blocks(reader, sync, end):
        if not n:
            continue
        if decode is None:
            decode = compile_decoder(schema, writer_schema, fltr, implicit_root)
        yield decode(decompress_block(payload, codec), n)


def from_avro(
    source: Union[bytes, io.IOBase, str, Any],
    include: Any = None,
    exclude: Any = None,
    spark: Optional[SparkSession] = None,
    reader_schema: Any = None,
) -> Dataset:
    """Decode one Avro container stream (reference core.py:36-38).

    ``reader_schema`` (Avro schema JSON) decodes the file under an
    explicit READER schema instead of the file's writer schema, with
    spec resolution rules (field matching by name, default fill,
    numeric promotions, enum fallback) — the reference's reader-vs-
    writer resolution surface (avro_direct.cpp:107-166) for one file.
    """
    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()

    # conflict validation first (raises ClusionError before any Spark job)
    fltr = ColumnFilter.parse(include, exclude)
    has_filter = include is not None or exclude is not None
    implicit_root = fltr.include.explicit or fltr.include.is_nothing()

    path, data = resolve_source(source, spark.sparkContext.master or "local")

    # bounded-memory metadata pass: header + block-header hops in
    # O(buffer) chunks, payloads seek-skipped (see pbd.py)
    with open_source(path, data) as fh:
        reader = ChunkedReader(fh, error_cls=AvroDecodeError)
        avro_schema, codec, sync, pos = scan_header_stream(reader)
        blocks = scan_blocks_stream(reader, sync)
    writer_schema = None
    if reader_schema is not None:
        import json as _json

        if _json.dumps(reader_schema, sort_keys=True) != _json.dumps(
            avro_schema, sort_keys=True
        ):
            writer_schema = avro_schema
            avro_schema = reader_schema
    dtype = avro_to_spark(avro_schema)
    record_root = isinstance(dtype, T.StructType)
    if record_root:
        out_schema = (
            prune_schema(dtype, fltr, implicit_root) if has_filter else dtype
        )
        assert isinstance(out_schema, T.StructType)
    else:
        out_schema = T.StructType([T.StructField(DEFAULT_COLUMN, dtype, True)])

    # a block unit spans its header through its sync marker, so the
    # planned ranges tile the file from the first block to EOF
    units = []
    for off, size, n in blocks:
        units.append((pos, off + size + 16, n))
        pos = off + size + 16
    splits = plan_splits(units, spark.sparkContext.defaultParallelism)
    if not splits:
        return Dataset(spark.createDataFrame([], out_schema))

    bc = None if path is not None else spark.sparkContext.broadcast(data)
    use_fltr = fltr if (record_root and has_filter) else None

    def decode(split):
        start, end = split
        with open_source(path, None if bc is None else bc.value) as fh:
            reader = ChunkedReader(fh, start, error_cls=AvroDecodeError)
            yield from _block_records(
                reader, end, sync, codec, avro_schema, writer_schema,
                use_fltr, implicit_root,
            )

    ds = Dataset(decode_splits(spark, splits, decode, out_schema, record_root))
    if has_filter and not record_root:
        ds = ds.select_columns(include, exclude)
    return ds


# above this many files the driver-side header sweep for schema merging
# moves into a Spark job (headers are metadata-sized; payloads untouched)
_MERGE_DRIVER_MAX_FILES = 64
_SCHEMA_JSON = T.StructType([T.StructField("schema_json", T.StringType())])


def _scan_file_header(path: str):
    """Header-only metadata read: magic + meta map + sync, via bounded
    chunked reads — block payloads are never touched."""
    with open(path, "rb") as fh:
        reader = ChunkedReader(fh, error_cls=AvroDecodeError)
        return scan_header_stream(reader)


def read_avro_py(
    paths: Union[str, list],
    include: Any = None,
    exclude: Any = None,
    spark: Optional[SparkSession] = None,
    merge_schemas: bool = True,
) -> Dataset:
    """Distributed MULTI-FILE Avro read without the connector jar — the
    many-files scale path for the pure-Python decoder. One decode task
    per file; each task parses its own header and block index and
    decodes with the clusion-pruned reader — no file bytes pass through
    the driver (the driver reads only per-file *headers*, and only their
    metadata maps at that). For one huge file use ``from_avro``, which
    splits by blocks.

    Schema evolution (Avro spec "Schema Resolution"; reference analogue
    avro_direct.cpp:107-166): with ``merge_schemas=True`` (default) the
    per-file writer schemas are union-merged into one reader schema
    (added fields default-fill or become nullable, numerics widen along
    int→long→float→double, enum symbol sets union) and every file's
    blocks decode against it — old files fill defaults for new fields,
    new files wire-skip nothing the reader wants. With
    ``merge_schemas=False`` the first file's schema is the reader schema
    and other files resolve against it (writer-only fields wire-skip).
    The header sweep runs on the driver below %d files and as a Spark
    metadata job above (schema JSONs, not file bytes, are collected).
    """ % _MERGE_DRIVER_MAX_FILES
    import glob as _glob
    import json as _json
    from functools import reduce

    from bamboo_spark.sources._avro_py import merge_avro_schemas

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
        raise ValueError("read_avro_py: no input files")

    fltr = ColumnFilter.parse(include, exclude)
    has_filter = include is not None or exclude is not None
    implicit_root = fltr.include.explicit or fltr.include.is_nothing()

    avro_schema, _codec0, _sync0, _pos0 = _scan_file_header(files[0])
    if merge_schemas and len(files) > 1:
        if len(files) <= _MERGE_DRIVER_MAX_FILES:
            uniq = {}
            for p in files:
                s = _scan_file_header(p)[0]
                uniq.setdefault(_json.dumps(s, sort_keys=True), s)
        else:
            def _header(p):
                yield [_json.dumps(_scan_file_header(p)[0], sort_keys=True)]

            # distinct() BEFORE collect: 100k files usually hold a
            # handful of schema versions — only those reach the driver
            keys = set(
                r.schema_json
                for r in decode_splits(
                    spark, files, _header, _SCHEMA_JSON, record_root=False,
                    slices=256,
                )
                .distinct()
                .collect()
            )
            uniq = {k: _json.loads(k) for k in sorted(keys)}
        avro_schema = reduce(merge_avro_schemas, uniq.values())
    dtype = avro_to_spark(avro_schema)
    record_root = isinstance(dtype, T.StructType)
    if record_root:
        out_schema = prune_schema(dtype, fltr, implicit_root) if has_filter else dtype
    else:
        out_schema = T.StructType([T.StructField(DEFAULT_COLUMN, dtype, True)])
    schema_key = _json.dumps(avro_schema, sort_keys=True)

    use_fltr = fltr if record_root and has_filter else None

    def decode(p):
        with open(p, "rb") as fh:
            reader = ChunkedReader(fh, error_cls=AvroDecodeError)
            f_schema, f_codec, f_sync, _ = scan_header_stream(reader)
            # an evolved file resolves its writer layout against the
            # merged reader schema (promotions, default fill,
            # writer-only wire-skip)
            same = _json.dumps(f_schema, sort_keys=True) == schema_key
            yield from _block_records(
                reader, reader.size, f_sync, f_codec, avro_schema,
                None if same else f_schema, use_fltr, implicit_root,
            )

    ds = Dataset(decode_splits(spark, files, decode, out_schema, record_root))
    if has_filter and not record_root:
        ds = ds.select_columns(include, exclude)
    return ds
