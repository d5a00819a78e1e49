"""One split planner and one split driver for the binary decoders.

``from_avro`` / ``from_pbd`` / ``read_avro_py`` / ``read_pbd`` all run
the same job shape: ``spark.range(0, n, 1, n).mapInArrow(...)``, where
task ``i`` decodes split ``i`` of a split table that rides in the
function's closure. A split is a ``(start, end)`` byte range of one
file, or one whole file. Compared with building the split table as a
DataFrame (``createDataFrame`` of driver rows, then a ``repartition``
to spread them), this is one job with one stage instead of two jobs
and three stages: no pickled-row RDD, no round-robin shuffle, and rows
come back in split (= file) order.

The split table is O(parallelism) for a single file
(:func:`plan_splits` coalesces the scan into at most
``defaultParallelism`` ranges) and O(files) for the multi-file readers.
PySpark itself ships a pickled function past
``spark.broadcast.UDFCompressionThreshold`` (1 MB) as a broadcast, so a
many-files table is not re-sent with every task, though each task still
unpickles it. An explicit broadcast of the table, measured on a 4-vCPU
host (``local[4]``) while a task still cost ~30 ms wall with the zip
re-read below inside it, tied at 1k and 10k entries, saved ~2.5 ms per
task at 100k and cost ~6 ms per job; no benchmark workload reads that
many files, so the table stays in the closure.

Each task first drops the worker's cached zip finders. Before every
task the PySpark worker calls ``importlib.invalidate_caches()``, which
on CPython 3.10-3.12 makes each cached ``zipimporter`` re-read its
archive's whole central directory; a worker holds 16 of them (pyspark
and py4j are imported from zips), ~0.13 s per task on that host.
Imported modules stay in ``sys.modules``, and a later import from a zip
rebuilds its finder from ``zipimport``'s directory cache without
reading the archive again.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession, types as T

# Records per decode task, lower bound before the parallelism cap —
# keeps tiny files on one task and big files spread across the
# parallelism without over-splitting.
TARGET_RECORDS_PER_SPLIT = 2048


def plan_splits(
    units: Sequence[Tuple[int, int, int]], parallelism: int
) -> List[Tuple[int, int]]:
    """Coalesce contiguous ``(start, end, n_records)`` scan units (Avro
    blocks, PBD record runs) into at most ``parallelism`` ``(start, end)``
    byte ranges, balanced by record count. Units with no records stay
    inside a neighbouring range so the ranges tile the scanned bytes.
    Returns ``[]`` when there are no records."""
    total = sum(u[2] for u in units)
    k = min(
        max(parallelism, 1),
        -(-total // TARGET_RECORDS_PER_SPLIT),
        sum(1 for u in units if u[2]),
    )
    out: List[Tuple[int, int]] = []
    lo: Optional[int] = None
    acc = 0
    cut = 1  # the next range ends once acc reaches cut/k of total
    for start, end, n in units:
        if lo is None:
            lo = start
        acc += n
        if k and acc * k >= cut * total:
            out.append((lo, end))
            lo = None
            cut = acc * k // total + 1
    if lo is not None and out:
        out[-1] = (out[-1][0], units[-1][1])
    return out


def _drop_zip_finders() -> None:
    """Forget the worker's cached zip finders, so the next task's
    ``importlib.invalidate_caches()`` has no archive to re-read."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def decode_splits(
    spark: SparkSession,
    splits: List[Any],
    decode: Callable[[Any], Iterable[list]],
    schema: T.StructType,
    record_root: bool = True,
    slices: Optional[int] = None,
) -> DataFrame:
    """Run ``decode(splits[i])`` in task ``i`` and return the frame.

    ``decode`` yields lists of decoded records; each list becomes one
    Arrow batch. With ``record_root`` the records are dicts keyed by
    ``schema``'s field names, otherwise bare values of its single
    column. Columnar ``pa.array`` construction from the records is
    C-speed and skips pandas object inference; pyarrow converts int →
    decimal128 (uint64/fixed64 widening) and dict → struct directly.
    ``slices`` caps the task count (several splits per task).
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    names = schema.fieldNames()

    def fn(batches):
        import pyarrow as pa

        _drop_zip_finders()
        for batch in batches:
            for i in batch.column(0).to_pylist():
                for records in decode(splits[i]):
                    if record_root:
                        arrays = [
                            pa.array([r[nm] for r in records], type=f.type)
                            for nm, f in zip(names, arrow_schema)
                        ]
                    else:
                        arrays = [pa.array(records, type=arrow_schema.field(0).type)]
                    yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    n = len(splits)
    return spark.range(0, n, 1, min(slices or n, n)).mapInArrow(fn, schema)
