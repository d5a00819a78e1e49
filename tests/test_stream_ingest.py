"""Bounded-memory single-file ingest + decoder error hygiene.

The reference streams container files through a 64 KiB buffered input
stream and never materializes them (reference cpp/src/bind.cpp:131-168);
these tests pin the same discipline on our driver-side metadata passes
(`ChunkedReader` + the *_stream scans) and pin the contract that
corrupt bytes always surface as the typed decode error
(PbdDecodeError / AvroDecodeError; reference truncation error
pbd.hpp:195-199), never a bare IndexError/struct.error/UnicodeDecodeError
or a silently truncated value.
"""

import io
import json
import os
import struct
import tracemalloc

import pytest

from bamboo_spark.clusions import ColumnFilter
from bamboo_spark.sources._avro_py import (
    AvroDecodeError,
    compile_decoder,
    decompress_block,
    read_blocks,
    scan_blocks_stream,
    scan_header_stream,
)
from bamboo_spark.sources._pbd_py import (
    PbdDecodeError,
    decode_range,
    parse_header,
    parse_header_stream,
    scan_record_splits,
)
from bamboo_spark.sources._stream import ChunkedReader, drain_or_spill

from tests.test_pbd import _container, _ld, _message_desc, _field_desc, _tag, _varint

BUF = 1 << 16  # 64 KiB, the reference's buffer size


class TrackingFile(io.RawIOBase):
    """File wrapper recording total bytes read and the largest single
    read — the proof that a metadata pass holds O(buffer), not O(file)."""

    def __init__(self, path):
        self.fh = open(path, "rb")
        self.total = 0
        self.max_read = 0

    def read(self, n=-1):
        out = self.fh.read(n)
        self.total += len(out)
        self.max_read = max(self.max_read, len(out))
        return out

    def seek(self, *a):
        return self.fh.seek(*a)

    def tell(self):
        return self.fh.tell()

    def close(self):
        self.fh.close()


def _big_pbd(tmp_path, n_records=160, payload=256 * 1024):
    """~40 MB PBD: records big enough that the boundary walk must
    seek-skip payloads rather than buffer through them."""
    desc = _message_desc(
        "Rec",
        [
            _field_desc("id", 1, 3),  # int64
            _field_desc("blob", 2, 12),  # bytes
        ],
    )
    records = [
        _tag(1, 0) + _varint(i) + _ld(2, bytes([i & 0xFF]) * payload)
        for i in range(n_records)
    ]
    data = _container([desc], "t.Rec", records)
    p = tmp_path / "big.pbd"
    p.write_bytes(data)
    return str(p), len(data), n_records


def test_pbd_metadata_pass_is_bounded(tmp_path):
    path, size, n = _big_pbd(tmp_path)
    fh = TrackingFile(path)
    try:
        reader = ChunkedReader(fh, bufsize=BUF, error_cls=PbdDecodeError)
        root, _ = parse_header_stream(reader)
        splits = scan_record_splits(reader, records_per_split=32)
    finally:
        fh.close()
    assert sum(s[2] for s in splits) == n
    assert splits[-1][1] == size  # walk reached exactly EOF
    # payloads were seek-skipped: the whole pass touched <5% of the file
    assert fh.total < size * 0.05
    assert fh.max_read <= BUF
    assert root.fields[1].name == "blob"


def _big_avro(tmp_path, n_blocks=160, payload=256 * 1024):
    """~40 MB Avro container with junk block payloads — the block-header
    hop never decodes payloads, so their contents don't matter."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "bytes"}],
    }

    def zz(v):
        v = (v << 1) ^ (v >> 63)
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            out.append(b | 0x80 if v else b)
            if not v:
                return bytes(out)

    sync = b"S" * 16
    meta = json.dumps(schema).encode()
    head = bytearray(b"Obj\x01")
    head += zz(1)  # one metadata map block
    head += zz(len(b"avro.schema")) + b"avro.schema" + zz(len(meta)) + meta
    head += zz(0) + sync
    body = b"".join(zz(7) + zz(payload) + b"\xab" * payload + sync for _ in range(n_blocks))
    p = tmp_path / "big.avro"
    p.write_bytes(bytes(head) + body)
    return str(p), len(head) + len(body), n_blocks


def test_avro_metadata_pass_is_bounded(tmp_path):
    path, size, n_blocks = _big_avro(tmp_path)
    fh = TrackingFile(path)
    try:
        reader = ChunkedReader(fh, bufsize=BUF, error_cls=AvroDecodeError)
        schema, codec, sync, pos = scan_header_stream(reader)
        blocks = scan_blocks_stream(reader, sync)
    finally:
        fh.close()
    assert len(blocks) == n_blocks
    assert all(b[2] == 7 for b in blocks)
    assert fh.total < size * 0.05
    assert fh.max_read <= BUF


def test_from_pbd_large_file_never_materializes_on_driver(spark, tmp_path):
    # end-to-end: driver-side construction of a ~40 MB file's plan must
    # allocate O(buffer), not O(file); decode happens executor-side.
    from bamboo_spark import from_pbd
    import pyspark.sql.functions as F

    path, size, n = _big_pbd(tmp_path)
    tracemalloc.start()
    ds = from_pbd(path)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 16 * 1024 * 1024, "driver held %d bytes for a %d-byte file" % (
        peak,
        size,
    )
    row = ds.df.select(
        F.count("*").alias("n"),
        F.sum(F.length("blob")).alias("bytes"),
        F.sum("id").alias("ids"),
    ).collect()[0]
    assert row["n"] == n
    assert row["bytes"] == n * 256 * 1024
    assert row["ids"] == n * (n - 1) // 2


def test_drain_or_spill_roundtrip(tmp_path):
    small = io.BytesIO(b"x" * 1000)
    data, path = drain_or_spill(small, threshold=10_000)
    assert data == b"x" * 1000 and path is None

    big = io.BytesIO(b"y" * 50_000)
    data, path = drain_or_spill(big, threshold=10_000)
    assert data is None
    assert os.path.getsize(path) == 50_000
    with open(path, "rb") as fh:
        assert fh.read(5) == b"yyyyy"
    os.unlink(path)


def test_chunked_reader_truncation_is_typed(tmp_path):
    p = tmp_path / "t.bin"
    p.write_bytes(b"\x80\x80")  # unterminated varint, then EOF
    with open(p, "rb") as fh:
        r = ChunkedReader(fh, error_cls=PbdDecodeError)
        with pytest.raises(PbdDecodeError):
            r.read_varint()
    with open(p, "rb") as fh:
        r = ChunkedReader(fh, error_cls=PbdDecodeError)
        with pytest.raises(PbdDecodeError):
            r.read(10)
    with open(p, "rb") as fh:
        r = ChunkedReader(fh, error_cls=PbdDecodeError)
        with pytest.raises(PbdDecodeError):
            r.skip(10)


# ------------------------------------------------- corrupt-byte hygiene


def _pbd_hygiene_container():
    desc = _message_desc(
        "Rec",
        [
            _field_desc("id", 1, 3),
            _field_desc("name", 2, 9),  # string
            _field_desc("val", 3, 1),  # double
            _field_desc("tags", 4, 3, label=3),  # repeated int64
        ],
    )
    records = [
        _tag(1, 0)
        + _varint(i)
        + _ld(2, ("name-%d" % i).encode())
        + _tag(3, 1)
        + struct.pack("<d", i * 1.5)
        + _ld(4, b"".join(_varint(j) for j in range(i % 4)))
        for i in range(8)
    ]
    return _container([desc], "t.Rec", records)


def test_pbd_corrupt_bytes_raise_only_pbd_decode_error():
    from hypothesis import given, settings, strategies as st

    base = _pbd_hygiene_container()
    root, body = parse_header(base)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(0, len(base) - 1),
        st.integers(0, 255),
    )
    def run(pos, val):
        if pos < body:
            return  # header mutations exercise parse_header, tested below
        data = bytearray(base)
        data[pos] = val
        data = bytes(data)
        # PbdDecodeError is the only exception allowed to escape.
        # from_pbd: the driver's split scan, then each split's decode
        try:
            reader = ChunkedReader(io.BytesIO(data), error_cls=PbdDecodeError)
            parse_header_stream(reader)
            for start, end, _ in scan_record_splits(reader, 3):
                decode_range(data, start, end, root)
        except PbdDecodeError:
            pass
        # read_pbd: a task decodes its whole file with no driver scan
        try:
            decode_range(data, body, len(data), root)
        except PbdDecodeError:
            pass

    run()


def test_pbd_truncated_file_never_decodes_a_short_record():
    # read_pbd's task decodes a whole file body with no driver scan: a
    # cut inside a record must raise, a cut on a record boundary is a
    # valid shorter file
    base = _pbd_hygiene_container()
    root, body = parse_header(base)
    reader = ChunkedReader(io.BytesIO(base), body, error_cls=PbdDecodeError)
    ends = [end for _, end, _ in scan_record_splits(reader, 1)]
    for cut in range(body + 1, len(base)):
        if cut in ends:
            assert len(decode_range(base[:cut], body, cut, root)) == ends.index(cut) + 1
        else:
            with pytest.raises(PbdDecodeError):
                decode_range(base[:cut], body, cut, root)


def test_avro_corrupt_bytes_raise_only_avro_decode_error():
    from hypothesis import given, settings, strategies as st
    from tests.test_sources import _avro_bytes

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
        ],
    }
    base = _avro_bytes(
        schema,
        [{"i": i, "s": "s%d" % i, "d": i / 3.0} for i in range(8)],
        block_size=3,
    )
    # body starts after the header (first sync marker ends it)
    schema, codec, sync, body = scan_header_stream(
        ChunkedReader(io.BytesIO(base), error_cls=AvroDecodeError)
    )
    # the skip closures: a pruned decode wire-skips the long and the string
    pruned = ColumnFilter.parse(None, ["i", "s"])
    # the resolution closures: long promoted to double, a defaulted field
    evolved = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "i", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "extra", "type": "long", "default": 7},
        ],
    }
    # as a decode task runs them: compiled once, then per block
    # decode(decompress_block(payload, codec), n)
    decodes = [
        lambda payload, n, d=d: d(decompress_block(payload, codec), n)
        for d in (
            compile_decoder(schema),
            compile_decoder(schema, None, pruned, True),
            compile_decoder(evolved, schema),
        )
    ]

    @settings(max_examples=200, deadline=None)
    @given(st.integers(0, len(base) - 1), st.integers(0, 255))
    def run(pos, val):
        if pos < body:
            return
        data = bytearray(base)
        data[pos] = val
        data = bytes(data)
        # AvroDecodeError is the only exception allowed to escape.
        # from_avro: the driver's block-header scan
        try:
            reader = ChunkedReader(io.BytesIO(data), body, error_cls=AvroDecodeError)
            scan_blocks_stream(reader, sync)
        except AvroDecodeError:
            pass
        # a decode task's block walk; read_avro_py's task walks the
        # whole body with no driver scan — as written, pruned, resolved
        for decode in decodes:
            try:
                reader = ChunkedReader(
                    io.BytesIO(data), body, error_cls=AvroDecodeError
                )
                for n, payload in read_blocks(reader, sync, reader.size):
                    decode(payload, n)
            except AvroDecodeError:
                pass

    run()
    # every strict prefix of a block is a truncated block: each decode
    # must report it, wherever the cut falls (varint, string, double)
    reader = ChunkedReader(io.BytesIO(base), body, error_cls=AvroDecodeError)
    for n, payload in read_blocks(reader, sync, reader.size):
        for cut in range(len(payload)):
            for decode in decodes:
                with pytest.raises(AvroDecodeError):
                    decode(payload[:cut], n)


def test_avro_negative_length_in_skipped_field_raises():
    # a corrupt negative string length in a wire-skipped field must not
    # move the reader backwards (a silent bogus record, or an endless loop)
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "i", "type": "long"}, {"name": "s", "type": "string"}],
    }
    pruned = ColumnFilter.parse(None, ["s"])
    # i = 5 (zigzag 0x0a), then a string length of -2 (zigzag 0x03)
    with pytest.raises(AvroDecodeError):
        compile_decoder(schema, None, pruned, True)(b"\x0a\x03", 1)


def test_spill_requires_shared_dir_on_cluster_master():
    # submit-time failure, not an executor FileNotFoundError mid-job:
    # a big stream with no BAMBOO_SPARK_SPILL_DIR must refuse to spill
    # when the master is a real cluster, and still work in local mode
    # or with an explicit (shared) spill dir
    import io
    import os

    from bamboo_spark.sources._stream import SpillDirError, drain_or_spill

    big = io.BytesIO(b"x" * (1 << 16))
    with pytest.raises(SpillDirError, match="BAMBOO_SPARK_SPILL_DIR"):
        drain_or_spill(big, threshold=1024, spill_dir="", master="spark://h:7077")

    big.seek(0)
    data, path = drain_or_spill(big, threshold=1024, spill_dir="", master="local[8]")
    assert data is None and path is not None and os.path.getsize(path) == 1 << 16

    big.seek(0)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        data, path = drain_or_spill(
            big, threshold=1024, spill_dir=d, master="spark://h:7077"
        )
        assert data is None and path is not None and path.startswith(d)

    # small stream never spills, any master
    small = io.BytesIO(b"y" * 100)
    data, path = drain_or_spill(small, threshold=1024, spill_dir="", master="yarn")
    assert data == b"y" * 100 and path is None


def test_read_hypertable_day_bounds_prune_files(spark, tmp_path):
    """VERDICT item: a bounded read_hypertable opens only the bounded
    days' files — the sink records db stats at publish time, so the
    skip prunes with no post-hoc stats pass."""
    from bamboo_spark.operators.publish import read_published
    from bamboo_spark.streaming import hypertable_sink, read_hypertable

    tbl = str(tmp_path / "ht")
    sink = hypertable_sink(spark, tbl, partition_by_day=True)

    def mk(ts, et, v):
        return spark.createDataFrame(
            [(1, ts, et, v)],
            "user_id long, ts string, event_type string, value double",
        ).selectExpr(
            "user_id", "cast(ts as timestamp) ts", "event_type", "value"
        )

    sink(mk("2024-01-01 10:00:00", "click", 1.0), 0)
    sink(mk("2024-01-02 11:00:00", "view", 2.0), 1)
    sink(mk("2024-01-03 12:00:00", "click", 3.0), 2)
    full_files = read_published(spark, tbl).inputFiles()
    bounded = read_hypertable(
        spark, tbl, days=("2024-01-03", "2024-01-03")
    )
    pruned_files = read_published(
        spark, tbl, skip={"db": ("2024-01-03", "2024-01-03")}
    ).inputFiles()
    assert len(pruned_files) < len(full_files)
    rows = {
        (r["grain"], r["bucket"], r["event_type"]): r["n_events"]
        for r in bounded.collect()
    }
    # only day 3's hour/day rows (+ its week row)
    assert all("2024-01-03" in b or g == "week" for g, b, _ in rows)
    assert rows[("day", "2024-01-03", "click")] == 1
    assert len([1 for g, _, _ in rows if g == "hour"]) == 1


def test_publish_stream_write_time_indexes(spark, tmp_path):
    """publish_stream(bloom_cols=...) indexes each batch during its
    commit: the landing table point-prunes and a point delete rewrites
    only matching files — no post-hoc index pass over the table."""
    from bamboo_spark.operators.publish import (
        delete_publish,
        live_files,
        read_published,
    )
    import pyspark.sql.functions as F

    t = str(tmp_path / "land")
    # drive the sink's exact per-batch contract with controlled batch
    # ids (foreachBatch ids aren't replayable in a unit test)
    from bamboo_spark.operators.publish import append_publish

    for lo in (0, 800):
        batch = spark.range(lo, lo + 800).select(
            F.xxhash64("id").alias("sk"), F.col("id").alias("user_id")
        ).repartition(4, "sk").drop("sk")
        append_publish(
            batch, t, meta={"last_bid": lo}, bloom_cols=["user_id"],
            stats_cols=["user_id"],
        )
    full = read_published(spark, t)
    pruned = read_published(spark, t, skip_eq={"user_id": 123})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    before = set(live_files(t, spark))
    delete_publish(spark, t, "user_id = 123", point={"user_id": 123})
    after = set(live_files(t, spark))
    assert 1 <= len(before - after) <= 2  # only matching file(s) rewritten
    assert read_published(spark, t).count() == 1599


def test_publish_stream_overwrite_partitions_mode(spark, tmp_path):
    """mode='overwrite_partitions': each micro-batch REPLACES exactly
    the hive partitions it carries (idempotent streaming recompute —
    a windowed aggregation stream rewriting affected days); the first
    batch seeds the partitioned table, untouched partitions carry by
    reference, and the exactly-once batch HWM rides every commit."""
    from bamboo_spark.operators.publish import (
        append_publish,
        atomic_publish,
        read_published,
        table_meta,
    )
    from bamboo_spark.sources.published import register
    from bamboo_spark.streaming.core import publish_stream

    register(spark)
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    def kvp(rows):
        return spark.createDataFrame(rows, "k long, v long, p string")

    atomic_publish(kvp([(1, 10, "a"), (2, 20, "b")]), bronze)
    sdf = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(bronze)
    )
    q = (
        publish_stream(
            sdf, silver, mode="overwrite_partitions", partition_by="p"
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r.k, r.v, r.p) for r in read_published(spark, silver).collect()}
        assert got == {(1, 10, "a"), (2, 20, "b")}
        # batch 2 carries only partition a — it replaces a WHOLESALE,
        # b carries by reference
        append_publish(kvp([(3, 30, "a")]), bronze)
        q.processAllAvailable()
        got = {(r.k, r.v, r.p) for r in read_published(spark, silver).collect()}
        assert got == {(3, 30, "a"), (2, 20, "b")}
        # batch 3 adds a brand-new partition value
        append_publish(kvp([(4, 40, "c")]), bronze)
        q.processAllAvailable()
        got = {(r.k, r.v, r.p) for r in read_published(spark, silver).collect()}
        assert got == {(3, 30, "a"), (2, 20, "b"), (4, 40, "c")}
        assert "last_bid" in table_meta(silver, spark)
    finally:
        q.stop()


def test_publish_stream_overwrite_partitions_requires_partition_by(
    spark, tmp_path
):
    import pytest as _pytest

    from bamboo_spark.streaming.core import publish_stream

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with _pytest.raises(ValueError, match="needs\\s+partition_by"):
        publish_stream(sdf, str(tmp_path / "t"), mode="overwrite_partitions")
