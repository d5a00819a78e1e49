"""Source ingestion tests — JSON (json_tests.py), Arrow shapes
(arrow_tests.py:113-252), Avro primitives/enum/fixed/union
(avro_tests.py:145-197), object edge cases."""

import io
import json

import numpy as np
import pyarrow as pa
import pytest

from bamboo_spark import NameStrategy, from_arrow, from_avro, from_json, from_object
from tests.conftest import assert_frame, assert_one_job_no_exchange, spy_split_tables

NAN = float("nan")


# ---------------------------------------------------------------- JSON


def test_json_readme_example(spark):
    doc = json.dumps(
        [{"a": None, "b": [1, 2], "c": [5, 6]}, {"a": -1.0, "b": [3, 4], "c": [7, 8]}]
    )
    ds = from_json(doc)
    pdf = ds.flatten(include=["a", "b"]).to_pandas()
    assert_frame({"a": [NAN, NAN, -1.0, -1.0], "b": [1, 2, 3, 4]}, pdf)


def test_json_nested_record(spark):
    doc = '{"a": {"b": [1, 2]}, "c": "x"}'
    pdf = from_json(doc).flatten(name_strategy=NameStrategy.CONCATENATE_ALWAYS).to_pandas()
    assert_frame({"a_b": [1, 2], "c": ["x", "x"]}, pdf)


def test_json_type_mismatch_error(spark):
    with pytest.raises(ValueError):
        from_json('[{"a": 1}, {"a": "x"}]')


def test_json_stream_input(spark):
    pdf = from_json(io.BytesIO(b'{"a": [1, 2]}')).flatten().to_pandas()
    assert_frame({"a": [1, 2]}, pdf)


# ---------------------------------------------------------------- Arrow


def _ipc_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def test_arrow_list_struct(spark):
    # F8 t1: x broadcast over exploded y (arrow_tests.py:247-252)
    t = pa.table(
        {
            "x": [1, 2],
            "y": [[{"a": 3, "b": 6}], [{"a": 4, "b": 7}, {"a": 5, "b": 8}]],
        }
    )
    pdf = from_arrow(_ipc_bytes(t)).flatten().to_pandas()
    assert_frame({"x": [1, 2, 2], "a": [3, 4, 5], "b": [6, 7, 8]}, pdf)


def test_arrow_list_of_list(spark):
    t = pa.table({"v": [[[1, 2, None]], None, [[3]]]})
    pdf = from_arrow(t).flatten().to_pandas()
    # null outer list contributes nothing (inner join); null element kept
    assert list(pdf.columns) == ["v"]
    got = [None if x is None or x != x else int(x) for x in pdf["v"]]
    assert got == [1, 2, None, 3]


def test_arrow_dictionary_decoded(spark):
    # F8 t3 (arrow_tests.py:224-229): dictionary → decoded values w/ nulls
    arr = pa.array(["foo", "bar", "foo", None, "baz"]).dictionary_encode()
    t = pa.table({"d": arr})
    pdf = from_arrow(t).flatten().to_pandas()
    assert list(pdf["d"]) == ["foo", "bar", "foo", None, "baz"]


def test_arrow_type_widening(spark):
    t = pa.table(
        {
            "u8": pa.array([1, 255], pa.uint8()),
            "u16": pa.array([1, 65535], pa.uint16()),
            "u32": pa.array([1, 2**32 - 1], pa.uint32()),
            "u64": pa.array([1, 2**64 - 1], pa.uint64()),
            "f16": pa.array(np.array([1.5, 2.5], dtype=np.float16), pa.float16()),
        }
    )
    ds = from_arrow(t)
    schema = dict((f.name, f.dataType.simpleString()) for f in ds.df.schema.fields)
    assert schema == {
        "u8": "smallint",
        "u16": "int",
        "u32": "bigint",
        "u64": "decimal(20,0)",
        "f16": "float",
    }
    pdf = ds.flatten().to_pandas()
    assert int(pdf["u64"][1]) == 2**64 - 1


def test_arrow_ints_floats_nulls(spark):
    t = pa.table(
        {
            "i8": pa.array([1, None], pa.int8()),
            "i64": pa.array([2**40, None], pa.int64()),
            "f64": pa.array([1.5, None], pa.float64()),
            "b": pa.array([True, None], pa.bool_()),
        }
    )
    pdf = from_arrow(t).flatten().to_pandas()
    assert pdf["i8"][0] == 1 and pdf["i64"][0] == 2**40
    assert pdf["f64"][0] == 1.5 and bool(pdf["b"][0]) is True


# ---------------------------------------------------------------- Avro


def _avro_bytes(
    schema: dict,
    records: list,
    block_size: int | None = None,
    write_schema: dict | None = None,
    codec: str = "null",
) -> bytes:
    """Hand-roll a tiny Avro container so tests don't need an avro writer
    library. ``block_size`` splits the records across multiple container
    blocks (the executor-decode split unit). ``write_schema`` encodes the
    payload under a different schema than the metadata claims (for
    planting wire-compatible-but-invalid values). ``codec`` frames block
    payloads per the spec: deflate (raw zlib) or snappy (+CRC32)."""
    import random
    import struct
    import zlib

    enc_schema = write_schema or schema

    def zigzag(n: int) -> bytes:
        n = (n << 1) ^ (n >> 63)
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
        return bytes(out)

    def enc_bytes(b: bytes) -> bytes:
        return zigzag(len(b)) + b

    def enc(value, sch):
        if isinstance(sch, list):
            for i, branch in enumerate(sch):
                if value is None and branch == "null":
                    return zigzag(i)
                if value is not None and branch != "null":
                    return zigzag(i) + enc(value, branch)
            raise AssertionError
        if isinstance(sch, dict):
            st = sch["type"]
            if st == "record":
                return b"".join(enc(value.get(f["name"]), f["type"]) for f in sch["fields"])
            if st == "enum":
                return zigzag(sch["symbols"].index(value))
            if st == "fixed":
                return value
            if st == "array":
                if not value:
                    return zigzag(0)
                return (
                    zigzag(len(value))
                    + b"".join(enc(v, sch["items"]) for v in value)
                    + zigzag(0)
                )
            if st == "map":
                if not value:
                    return zigzag(0)
                return (
                    zigzag(len(value))
                    + b"".join(enc_bytes(k.encode()) + enc(v, sch["values"]) for k, v in value.items())
                    + zigzag(0)
                )
            return enc(value, st)
        if sch == "null":
            return b""
        if sch == "boolean":
            return b"\x01" if value else b"\x00"
        if sch in ("int", "long"):
            return zigzag(value)
        if sch == "float":
            return struct.pack("<f", value)
        if sch == "double":
            return struct.pack("<d", value)
        if sch == "bytes":
            return enc_bytes(value)
        if sch == "string":
            return enc_bytes(value.encode())
        raise AssertionError(sch)

    def frame(payload: bytes) -> bytes:
        if codec == "deflate":
            c = zlib.compressobj(wbits=-15)
            return c.compress(payload) + c.flush()
        if codec == "snappy":
            import pyarrow

            crc = zlib.crc32(payload) & 0xFFFFFFFF
            snappy = pyarrow.compress(payload, codec="snappy", asbytes=True)
            return snappy + crc.to_bytes(4, "big")
        return payload

    sync = bytes(random.Random(0).randrange(256) for _ in range(16))
    meta = (
        zigzag(2)
        + enc_bytes(b"avro.schema")
        + enc_bytes(json.dumps(schema).encode())
        + enc_bytes(b"avro.codec")
        + enc_bytes(codec.encode())
        + zigzag(0)
    )
    out = bytearray(b"Obj\x01" + meta + sync)
    step = block_size or max(1, len(records))
    for i in range(0, max(len(records), 1), step):
        chunk = records[i : i + step]
        if not chunk and records:
            break
        payload = frame(b"".join(enc(r, enc_schema) for r in chunk))
        out += zigzag(len(chunk)) + zigzag(len(payload)) + payload + sync
    return bytes(out)


def _avro_blocks(data: bytes):
    """``(schema, codec, [(n_records, payload), ...])`` of a container,
    walked the way decode tasks walk their splits (streaming header
    scan, then ``read_blocks`` to EOF)."""
    from bamboo_spark.sources._avro_py import (
        AvroDecodeError,
        read_blocks,
        scan_header_stream,
    )
    from bamboo_spark.sources._stream import ChunkedReader

    reader = ChunkedReader(io.BytesIO(data), error_cls=AvroDecodeError)
    schema, codec, sync, _ = scan_header_stream(reader)
    return schema, codec, list(read_blocks(reader, sync, reader.size))


def _rec_schema(field_type) -> dict:
    return {
        "type": "record",
        "name": "t",
        "fields": [{"name": "a", "type": field_type}],
    }


@pytest.mark.parametrize(
    "ftype,values",
    [
        ("int", [1, -2]),
        ("long", [2**40, -1]),
        ("boolean", [True, False]),
        ("float", [1.5, -2.5]),
        ("double", [1.5, -2.5]),
        ("string", ["x", "yz"]),
    ],
)
def test_avro_primitives(spark, ftype, values):
    data = _avro_bytes(_rec_schema(ftype), [{"a": v} for v in values])
    pdf = from_avro(data).flatten().to_pandas()
    got = list(pdf["a"])
    if ftype == "float":
        assert all(abs(g - v) < 1e-6 for g, v in zip(got, values))
    else:
        assert got == values


def test_avro_bytes_fixed_enum_union(spark):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "by", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "f3", "size": 3}},
            {"name": "en", "type": {"type": "enum", "name": "e", "symbols": ["a", "b"]}},
            {"name": "un", "type": ["int", "null"]},
        ],
    }
    records = [
        {"by": b"\x01\x02", "fx": b"abc", "en": "b", "un": 1},
        {"by": b"", "fx": b"xyz", "en": "a", "un": None},
    ]
    pdf = from_avro(_avro_bytes(schema, records)).flatten().to_pandas()
    assert list(pdf["by"]) == [bytearray(b"\x01\x02"), bytearray(b"")]
    assert list(pdf["fx"]) == [bytearray(b"abc"), bytearray(b"xyz")]
    assert list(pdf["en"]) == ["b", "a"]
    assert pdf["un"][0] == 1 and pdf["un"][1] != pdf["un"][1]  # NaN


def test_avro_read_time_clusions(spark):
    # F5 read-time include/exclude with deep re-include (avro_tests.py:242-250)
    schema = {
        "type": "record",
        "name": "outer",
        "fields": [
            {
                "name": "oa",
                "type": {
                    "type": "record",
                    "name": "ra",
                    "fields": [{"name": "ia", "type": "int"}, {"name": "ib", "type": "int"}],
                },
            },
            {
                "name": "ob",
                "type": {
                    "type": "record",
                    "name": "rb",
                    "fields": [{"name": "ia", "type": "int"}, {"name": "ib", "type": "int"}],
                },
            },
        ],
    }
    records = [{"oa": {"ia": 1, "ib": 2}, "ob": {"ia": 3, "ib": 4}}]
    data = _avro_bytes(schema, records)
    pdf = from_avro(data).flatten().to_pandas()
    assert_frame({"oa_ia": [1], "oa_ib": [2], "ob_ia": [3], "ob_ib": [4]}, pdf)
    pdf = from_avro(data, exclude="oa").flatten().to_pandas()
    assert_frame({"ia": [3], "ib": [4]}, pdf)
    pdf = from_avro(data, exclude="oa", include=[{}, "oa.ia"]).flatten().to_pandas()
    assert_frame({"oa_ia": [1], "ob_ia": [3], "ib": [4]}, pdf)


def test_avro_list_flatten(spark):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "s", "type": "int"},
            {"name": "xs", "type": {"type": "array", "items": "double"}},
        ],
    }
    records = [{"s": 1, "xs": [1.0, 2.0]}, {"s": 2, "xs": [3.0]}]
    pdf = from_avro(_avro_bytes(schema, records)).flatten().to_pandas()
    assert_frame({"s": [1, 1, 2], "xs": [1.0, 2.0, 3.0]}, pdf)


# ---------------------------------------------------------------- objects


def test_avro_multiblock_roundtrip(spark):
    # multi-block container: blocks are the distributed-decode split unit
    schema = _rec_schema("long")
    records = [{"a": i} for i in range(100)]
    pdf = from_avro(_avro_bytes(schema, records, block_size=7)).flatten().to_pandas()
    assert sorted(pdf["a"]) == list(range(100))


def test_avro_clusion_pushdown_never_materializes_excluded(spark):
    # Excluded fields are walked but never materialized (reference
    # avro_direct.cpp:107-166): invalid UTF-8 planted in an excluded
    # string field decodes fine (skip advances past the bytes without
    # .decode()); including the field raises.
    # string and bytes share a wire format: encode invalid UTF-8 under a
    # bytes writer schema while the container metadata claims string, so
    # any decode of "bad" must utf-8-decode the invalid bytes and raise.
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "keep", "type": "long"},
            {"name": "bad", "type": "string"},
        ],
    }
    write_schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "keep", "type": "long"},
            {"name": "bad", "type": "bytes"},
        ],
    }
    records = [{"keep": 5, "bad": b"\xff\xfe\xff"}]
    data = _avro_bytes(schema, records, write_schema=write_schema)

    pdf = from_avro(data, exclude=["bad"]).flatten().to_pandas()
    assert list(pdf.columns) == ["keep"]
    assert list(pdf["keep"]) == [5]

    with pytest.raises(Exception):
        from_avro(data).flatten().to_pandas()


def test_avro_truncated_raises_decode_error(spark):
    from bamboo_spark.sources._avro_py import AvroDecodeError

    schema = _rec_schema("string")
    data = _avro_bytes(schema, [{"a": "hello world"}])
    with pytest.raises(AvroDecodeError):
        _avro_blocks(data[:-20])


def test_avro_roundtrip_fuzz(spark):
    # hypothesis round-trip over the container format: random values for
    # zigzag longs, IEEE floats, strings, bytes, booleans, nullable
    # unions, and arrays — encode (multi-block) → executor decode →
    # exact equality. Pins the block walk and every primitive codec.
    import struct as _s

    from hypothesis import given, settings, strategies as st

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "b", "type": "boolean"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
        ],
    }

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(-(2**63), 2**63 - 1),
                st.floats(allow_nan=False, width=32),
                st.floats(allow_nan=False),
                st.text(max_size=15),
                st.binary(max_size=15),
                st.booleans(),
                st.one_of(st.none(), st.integers(-(2**40), 2**40)),
                st.lists(st.integers(-(2**40), 2**40), max_size=4),
            ),
            min_size=1,
            max_size=6,
        )
    )
    def run(rows):
        records = [
            {
                "i": i,
                "f": f,
                "d": d,
                "s": "%d:%s" % (idx, s),
                "by": by,
                "b": b,
                "n": n,
                "arr": arr,
            }
            for idx, (i, f, d, s, by, b, n, arr) in enumerate(rows)
        ]
        got = sorted(
            from_avro(_avro_bytes(schema, records, block_size=2)).df.collect(),
            key=lambda r: int(r["s"].split(":", 1)[0]),
        )
        for row, rec in zip(got, records):
            assert row["i"] == rec["i"] and row["s"] == rec["s"]
            assert row["f"] == _s.unpack("<f", _s.pack("<f", rec["f"]))[0]
            assert row["d"] == rec["d"] and row["by"] == rec["by"]
            assert row["b"] == rec["b"] and row["n"] == rec["n"]
            assert list(row["arr"]) == rec["arr"]

    run()


def test_avro_decimal_keeps_all_38_digits():
    # a decimal(38, 2) value past the default 28-digit decimal context
    import decimal

    from bamboo_spark.sources._avro_py import compile_decoder

    unscaled = -12345678901234567890123456789012345678
    raw = unscaled.to_bytes(16, "big", signed=True)
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {
                "name": "d",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 38,
                    "scale": 2,
                },
            }
        ],
    }
    payload = bytes([len(raw) << 1]) + raw  # zigzag length, then the bytes
    (row,) = compile_decoder(schema)(payload, 1)
    assert row["d"] == decimal.Decimal("-123456789012345678901234567890123456.78")


def test_avro_pruned_roundtrip_matches_projection(spark):
    # avro.py promises that decode-time pruning selects what the Catalyst
    # nested projection selects: a random include/exclude on from_avro
    # must equal apply_column_filter over the full decode
    from hypothesis import assume, given, settings, strategies as st

    from bamboo_spark.clusions import ClusionError, ColumnFilter
    from bamboo_spark.projection import apply_column_filter

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "double"]},
            {
                "name": "u",
                "type": {
                    "type": "record",
                    "name": "U",
                    "fields": [
                        {"name": "a", "type": "string"},
                        {"name": "b", "type": ["null", "long"]},
                    ],
                },
            },
            {
                "name": "items",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "It",
                        "fields": [
                            {"name": "k", "type": "string"},
                            {"name": "q", "type": "long"},
                            {"name": "tags", "type": {"type": "array", "items": "string"}},
                        ],
                    },
                },
            },
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ],
    }
    paths = ["i", "s", "n", "u", "u.a", "u.b", "items", "items.k", "items.q",
             "items.tags", "m"]
    clusion = st.one_of(st.none(), st.lists(st.sampled_from(paths), max_size=3))

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(-(2**40), 2**40),
                st.text(max_size=6),
                st.one_of(st.none(), st.floats(allow_nan=False)),
                st.text(max_size=4),
                st.one_of(st.none(), st.integers(-9, 9)),
                st.lists(
                    st.tuples(
                        st.text(max_size=3),
                        st.integers(0, 99),
                        st.lists(st.text(max_size=3), max_size=2),
                    ),
                    max_size=3,
                ),
            ),
            min_size=1,
            max_size=5,
        ),
        clusion,
        clusion,
    )
    def run(rows, include, exclude):
        try:
            ColumnFilter.parse(include, exclude)
        except ClusionError:
            assume(False)  # a path both included and excluded
        records = [
            {
                "i": i,
                "s": s,
                "n": n,
                "u": {"a": a, "b": b},
                "items": [{"k": k, "q": q, "tags": tags} for k, q, tags in items],
                "m": {"x": i},
            }
            for i, s, n, a, b, items in rows
        ]
        data = _avro_bytes(schema, records, block_size=2)
        pruned = from_avro(data, include=include, exclude=exclude).df
        full = apply_column_filter(from_avro(data).df, include, exclude)
        assert pruned.schema == full.schema
        assert pruned.collect() == full.collect()

    run()


def test_avro_pruning_costs_schema_not_records(monkeypatch):
    # the clusion filter is resolved once per decode, not per record:
    # ColumnFilter.child runs as often for 1,000 records as for one
    from bamboo_spark.clusions import ColumnFilter
    from bamboo_spark.sources._avro_py import compile_decoder, encode_value

    schema = {
        "type": "record",
        "name": "o",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "user",
                "type": {
                    "type": "record",
                    "name": "u",
                    "fields": [
                        {"name": "name", "type": "string"},
                        {"name": "age", "type": ["null", "int"]},
                    ],
                },
            },
            {
                "name": "items",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "it",
                        "fields": [
                            {"name": "sku", "type": "string"},
                            {"name": "tags", "type": {"type": "array", "items": "string"}},
                        ],
                    },
                },
            },
            {"name": "payload", "type": "string"},
        ],
    }
    record = {
        "id": 1,
        "user": {"name": "n", "age": 30},
        "items": [{"sku": "k", "tags": ["a", "b"]}],
        "payload": "p" * 20,
    }
    calls = []
    child = ColumnFilter.child

    def counting_child(self, name):
        calls.append(name)
        return child(self, name)

    monkeypatch.setattr(ColumnFilter, "child", counting_child)

    def child_calls(n):
        payload = bytearray()
        names = {}
        for _ in range(n):
            encode_value(payload, schema, record, names)
        fltr = ColumnFilter.parse(None, ["payload", "items.tags"])
        del calls[:]
        out = compile_decoder(schema, None, fltr, True)(bytes(payload), n)
        assert len(out) == n
        assert out[-1] == {"id": 1, "user": record["user"], "items": [{"sku": "k"}]}
        return len(calls)

    assert child_calls(1) == child_calls(1000) > 0


def test_avro_logical_types(spark):
    # spark-avro's logical-type mapping on the fallback path: date →
    # DateType, timestamp-millis/micros → TimestampType (UTC), decimal
    # (bytes, two's-complement unscaled) → DecimalType(p, s)
    import datetime
    import decimal

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "tus", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "tms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {
                "name": "dec",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 10,
                    "scale": 2,
                },
            },
        ],
    }
    unscaled = -12345  # -123.45 at scale 2
    records = [
        {
            "d": 19000,  # days since epoch → 2022-01-08
            "tus": 1_600_000_000_000_000,
            "tms": 1_600_000_000_123,
            "dec": unscaled.to_bytes(3, "big", signed=True),
        }
    ]
    ds = from_avro(_avro_bytes(schema, records))
    types = {f.name: f.dataType.simpleString() for f in ds.df.schema.fields}
    assert types == {
        "d": "date",
        "tus": "timestamp",
        "tms": "timestamp",
        "dec": "decimal(10,2)",
    }
    row = ds.df.collect()[0]
    assert row["d"] == datetime.date(1970, 1, 1) + datetime.timedelta(days=19000)
    assert row["tus"] == datetime.datetime(2020, 9, 13, 12, 26, 40)
    assert row["tms"].microsecond == 123000
    assert row["dec"] == decimal.Decimal("-123.45")


def test_read_avro_py_multifile(spark, tmp_path):
    from bamboo_spark import read_avro_py

    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "a", "type": "long"}, {"name": "s", "type": "string"}],
    }
    for fi in range(3):
        recs = [{"a": fi * 10 + i, "s": "v%d" % i} for i in range(5)]
        (tmp_path / ("part%d.avro" % fi)).write_bytes(
            _avro_bytes(schema, recs, block_size=2)
        )
    pdf = read_avro_py(str(tmp_path / "*.avro")).flatten().to_pandas()
    assert sorted(pdf["a"]) == sorted([f * 10 + i for f in range(3) for i in range(5)])

    pdf = read_avro_py(str(tmp_path / "*.avro"), include=["s"]).flatten().to_pandas()
    assert list(pdf.columns) == ["s"]


def test_read_avro_py_schema_evolution(spark, tmp_path):
    # Avro-spec schema resolution across an evolved multi-file corpus
    # (reference analogue: avro_direct.cpp:107-166 reader-vs-writer
    # resolution): old files default-fill added fields, int widens to
    # long, enum symbol sets union.
    from bamboo_spark import read_avro_py

    old = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "s", "type": "string"},
            {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
        ],
    }
    new = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": "string"},
            {
                "name": "e",
                "type": {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]},
            },
            {"name": "score", "type": "double", "default": 1.5},
            {"name": "tag", "type": "string"},  # no default → nullable in merge
        ],
    }
    (tmp_path / "a.avro").write_bytes(
        _avro_bytes(old, [{"id": 1, "s": "x", "e": "A"}, {"id": 2, "s": "y", "e": "B"}])
    )
    (tmp_path / "b.avro").write_bytes(
        _avro_bytes(
            new,
            [{"id": 3_000_000_000, "s": "z", "e": "C", "score": 2.5, "tag": "t3"}],
        )
    )
    pdf = (
        read_avro_py(str(tmp_path / "*.avro"))
        .flatten()
        .to_pandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert list(pdf["id"]) == [1, 2, 3_000_000_000]  # int widened to long
    assert list(pdf["e"]) == ["A", "B", "C"]  # union of enum symbols
    assert list(pdf["score"]) == [1.5, 1.5, 2.5]  # default fill for old file
    assert list(pdf["tag"]) == [None, None, "t3"]  # no default → null fill

    # clusions prune across the evolved read too
    pdf = (
        read_avro_py(str(tmp_path / "*.avro"), include=["id", "score"])
        .flatten()
        .to_pandas()
    )
    assert sorted(pdf.columns) == ["id", "score"]
    assert sorted(pdf["score"]) == [1.5, 1.5, 2.5]


def test_read_avro_py_first_schema_reader(spark, tmp_path):
    # merge_schemas=False: the first file's schema IS the reader schema;
    # evolved files resolve against it (writer-only fields wire-skip).
    from bamboo_spark import read_avro_py

    old = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "id", "type": "int"}, {"name": "s", "type": "string"}],
    }
    new = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "extra", "type": "string"},
            {"name": "id", "type": "int"},
            {"name": "s", "type": "string"},
        ],
    }
    (tmp_path / "a.avro").write_bytes(_avro_bytes(old, [{"id": 1, "s": "x"}]))
    (tmp_path / "b.avro").write_bytes(
        _avro_bytes(new, [{"extra": "dropme", "id": 2, "s": "y"}])
    )
    pdf = (
        read_avro_py(
            [str(tmp_path / "a.avro"), str(tmp_path / "b.avro")],
            merge_schemas=False,
        )
        .flatten()
        .to_pandas()
        .sort_values("id")
    )
    assert sorted(pdf.columns) == ["id", "s"]
    assert list(pdf["s"]) == ["x", "y"]


def test_from_avro_explicit_reader_schema(spark, tmp_path):
    # single-file resolution under a caller-supplied reader schema:
    # promotion, default fill, and writer-only drop all in one read
    from bamboo_spark import from_avro

    writer = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "drop_me", "type": "string"},
        ],
    }
    reader = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "added", "type": "string", "default": "dflt"},
        ],
    }
    p = tmp_path / "r.avro"
    p.write_bytes(
        _avro_bytes(writer, [{"id": 7, "drop_me": "x"}, {"id": 8, "drop_me": "y"}])
    )
    pdf = from_avro(str(p), reader_schema=reader).flatten().to_pandas()
    assert sorted(pdf.columns) == ["added", "id"]
    assert sorted(pdf["id"]) == [7, 8]
    assert set(pdf["added"]) == {"dflt"}

    # clusions compose with the resolution
    pdf = from_avro(str(p), reader_schema=reader, include=["id"]).flatten().to_pandas()
    assert list(pdf.columns) == ["id"]


def test_merge_avro_schemas_rules():
    from bamboo_spark.sources._avro_py import AvroDecodeError, merge_avro_schemas

    a = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "x", "type": "int"},
            {"name": "only_a", "type": "long"},
        ],
    }
    b = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "x", "type": "double"},
            {"name": "only_b", "type": "string", "default": "d"},
        ],
    }
    m = merge_avro_schemas(a, b)
    by = {f["name"]: f for f in m["fields"]}
    assert by["x"]["type"] == "double"  # int ∨ double widens
    # one-side-only without default → nullable with null default
    assert by["only_a"]["type"] == ["null", "long"]
    assert by["only_a"]["default"] is None
    # one-side-only WITH default keeps it
    assert by["only_b"]["default"] == "d"

    with pytest.raises(AvroDecodeError):
        merge_avro_schemas(
            {"type": "fixed", "name": "f", "size": 4},
            {"type": "fixed", "name": "f", "size": 8},
        )


def test_avro_resolution_error_paths(spark, tmp_path):
    # resolution must fail loudly, not garble: reader-only field with
    # no default; unresolvable type change
    from bamboo_spark import from_avro
    from bamboo_spark.sources._avro_py import AvroDecodeError

    writer = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "id", "type": "int"}],
    }
    p = tmp_path / "w.avro"
    p.write_bytes(_avro_bytes(writer, [{"id": 1}]))

    no_default = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "req", "type": "string"},  # missing in writer, no default
        ],
    }
    with pytest.raises(Exception) as ei:
        from_avro(str(p), reader_schema=no_default).flatten().to_pandas()
    assert "default" in str(ei.value)

    narrowing = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "id", "type": "boolean"}],  # int !-> boolean
    }
    with pytest.raises(Exception) as ei:
        from_avro(str(p), reader_schema=narrowing).flatten().to_pandas()
    assert "resolve" in str(ei.value).lower()


def test_avro_snappy_codec(spark, tmp_path):
    # Avro snappy framing: raw snappy block + big-endian CRC32 of the
    # uncompressed payload (Avro spec "snappy" codec), via the
    # pure-Python block decoder.
    from bamboo_spark import from_avro, read_avro_py

    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "a", "type": "long"}, {"name": "s", "type": "string"}],
    }
    recs = [{"a": i, "s": "v%d" % i} for i in range(100)]
    data = _avro_bytes(schema, recs, block_size=16, codec="snappy")
    p = tmp_path / "s.avro"
    p.write_bytes(data)
    pdf = from_avro(str(p)).flatten().to_pandas()
    assert sorted(pdf["a"]) == list(range(100))
    pdf = read_avro_py(str(p)).flatten().to_pandas()
    assert sorted(pdf["a"]) == list(range(100))

    # corrupt one payload byte → CRC mismatch surfaces as AvroDecodeError
    from bamboo_spark.sources._avro_py import AvroDecodeError, decompress_block

    blk = _avro_bytes(schema, recs[:4], codec="snappy")
    _, _, [(_, payload)] = _avro_blocks(blk)
    payload = bytearray(payload)
    payload[-1] ^= 0xFF  # flip CRC byte
    with pytest.raises(AvroDecodeError):
        decompress_block(bytes(payload), "snappy")


def test_snappy_pure_python_codec():
    # Decode elements straight from the public format description:
    # literals, 1/2-byte-offset copies, overlapping (run) copies.
    import pyarrow

    from bamboo_spark.sources._snappy import SnappyError, snappy_uncompress

    # hand-built: varint(11), literal "ab", copy offset=2 len=9 (run)
    block = bytes([11]) + bytes([(2 - 1) << 2]) + b"ab" + bytes(
        [((9 - 4) << 2) | 0x01, 2]
    )
    assert snappy_uncompress(block) == b"ababababab" + b"a"

    # round-trip through Arrow's snappy compressor at several sizes;
    # repetitive input makes it emit copies as well as literals
    import random as _r

    rnd = _r.Random(7)
    for size in (0, 1, 59, 60, 61, 1000, 70000, 200000):
        raw = bytes(rnd.randrange(256) for _ in range(size))
        packed = pyarrow.compress(raw, codec="snappy", asbytes=True)
        assert snappy_uncompress(packed) == raw
    text = b"".join(b"record %d field value " % (i % 37) for i in range(600))
    packed = pyarrow.compress(text, codec="snappy", asbytes=True)
    assert len(packed) < len(text) // 4  # copies, not just literals
    assert snappy_uncompress(packed) == text

    for bad in (b"", bytes([200, 200, 200, 200, 200, 200]), bytes([4, 0xFC])):
        with pytest.raises(SnappyError):
            snappy_uncompress(bad)
    # declared length ≠ decoded length
    with pytest.raises(SnappyError):
        snappy_uncompress(bytes([5]) + bytes([(2 - 1) << 2]) + b"ab")


def test_snappy_copy_fuzz():
    # random literal/copy programs: encode each element by hand, track
    # the expected output independently, assert the decoder agrees —
    # exercises 1/2/4-byte offsets, overlapping runs, and 60-63 literal
    # length encodings the literal-only compressor never emits
    import random as _r

    from bamboo_spark.sources._snappy import snappy_uncompress

    rnd = _r.Random(42)
    for _ in range(300):
        out = bytearray()
        block = bytearray()
        for _op in range(rnd.randrange(1, 12)):
            if not out or rnd.random() < 0.5:  # literal
                length = rnd.randrange(1, 90)
                data = bytes(rnd.randrange(256) for _ in range(length))
                if length - 1 < 60:
                    block.append((length - 1) << 2)
                else:  # 1-byte length form (tag 60)
                    block.append(60 << 2)
                    block.append(length - 1)
                block += data
                out += data
            else:  # copy
                offset = rnd.randrange(1, len(out) + 1)
                form = rnd.choice((1, 2, 3))
                if form == 1:
                    length = rnd.randrange(4, 12)
                    if offset >= 2048:
                        form = 2
                if form == 1:
                    block.append(((length - 4) << 2) | ((offset >> 8) << 5) | 0x01)
                    block.append(offset & 0xFF)
                else:
                    length = rnd.randrange(1, 65)
                    if form == 2:
                        block.append(((length - 1) << 2) | 0x02)
                        block += offset.to_bytes(2, "little")
                    else:
                        block.append(((length - 1) << 2) | 0x03)
                        block += offset.to_bytes(4, "little")
                start = len(out) - offset
                for i in range(length):  # overlapping-safe expected value
                    out.append(out[start + i])
        ulen = len(out)
        header = bytearray()
        v = ulen
        while True:
            b = v & 0x7F
            v >>= 7
            header.append(b | (0x80 if v else 0))
            if not v:
                break
        got = snappy_uncompress(bytes(header) + bytes(block))
        assert got == bytes(out)


def test_avro_perf_gate_1m_records(spark, tmp_path):
    # Engine twin of the reference's Avro decode perf assertion
    # (avro_tests.py:252-277): 1M records ≥ 200k rec/s steady-state via
    # executor-parallel block decode.
    import time

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
        ],
    }
    n = 1_000_000
    records = [{"a": i % 100000, "s": "doc%d" % (i % 1000), "d": 1.25} for i in range(n)]
    path = tmp_path / "perf1m.avro"
    path.write_bytes(_avro_bytes(schema, records, block_size=10000))
    del records

    assert from_avro(str(path)).df.count() == n  # warmup (JIT/workers)
    start = time.perf_counter()
    got = from_avro(str(path)).df.count()
    elapsed = time.perf_counter() - start
    assert got == n
    assert elapsed < 5.0, "1M-record Avro decode took %.2fs (< 200k rec/s)" % elapsed


# ------------------------------------------------------- split driver


_ORDER_SCHEMA = {
    "type": "record",
    "name": "Order",
    "fields": [
        {"name": "id", "type": "long"},
        {
            "name": "items",
            "type": {"type": "array", "items": {"type": "string"}},
        },
        {"name": "payload", "type": "string"},
    ],
}


def _orders(n):
    return [
        {"id": i, "items": ["s%d" % j for j in range(i % 3)], "payload": "p" * (i % 7)}
        for i in range(n)
    ]


def test_avro_decode_is_one_job_without_exchange(spark, tmp_path):
    from bamboo_spark import read_avro_py
    from bamboo_spark.sources._avro_py import write_container

    path = str(tmp_path / "orders.avro")
    write_container(path, _ORDER_SCHEMA, _orders(5000), records_per_block=64)
    with open(path, "rb") as fh:
        data = fh.read()
    for ds in (
        from_avro(path, spark=spark),
        from_avro(data, exclude=["payload"], spark=spark),
        read_avro_py([path, path], spark=spark),
    ):
        assert_one_job_no_exchange(spark, ds.df)


def test_avro_keeps_file_order(spark, tmp_path, monkeypatch):
    import bamboo_spark.sources.avro as avro_mod
    from bamboo_spark.sources._avro_py import write_container

    seen = spy_split_tables(monkeypatch, avro_mod)
    records = _orders(8 * 2048)
    path = str(tmp_path / "orders.avro")
    write_container(path, _ORDER_SCHEMA, records, records_per_block=64)
    with open(path, "rb") as fh:
        data = fh.read()
    want = [r["id"] for r in records]
    for source in (path, data):
        got = [r.id for r in from_avro(source, spark=spark).df.select("id").collect()]
        assert got == want
        # 8 x 2048 records: one split per core up to 8
        assert len(seen[-1]) == min(spark.sparkContext.defaultParallelism, 8)


def test_avro_split_table_is_parallelism_sized(spark, tmp_path, monkeypatch):
    import bamboo_spark.sources.avro as avro_mod
    from bamboo_spark.sources._avro_py import write_container

    seen = spy_split_tables(monkeypatch, avro_mod)
    path = str(tmp_path / "blocks.avro")
    write_container(path, _rec_schema("long"), [{"a": i} for i in range(10_000)], records_per_block=10)
    ds = from_avro(path, spark=spark)
    (splits,) = seen
    assert 1 <= len(splits) <= spark.sparkContext.defaultParallelism
    assert all(
        isinstance(s, tuple) and len(s) == 2 and s[0] < s[1] for s in splits
    ), splits
    # contiguous ranges that end at EOF: every block belongs to one split
    assert all(a[1] == b[0] for a, b in zip(splits, splits[1:]))
    assert splits[-1][1] == (tmp_path / "blocks.avro").stat().st_size
    assert [r.a for r in ds.df.collect()] == list(range(10_000))


def test_plan_splits_balances_records():
    from bamboo_spark.sources._splits import TARGET_RECORDS_PER_SPLIT as T, plan_splits

    # uneven units, empty units at both ends and inside
    units = [(0, 5, 0), (5, 10, 3 * T), (10, 11, 0), (11, 20, T), (20, 30, T),
             (30, 40, 2 * T), (40, 41, T), (41, 42, 0)]
    # each range closes on the unit that reaches the next quarter of
    # the records: 3T | T | 3T | T (T = target records per split)
    assert plan_splits(units, 4) == [(0, 10), (10, 20), (20, 40), (40, 42)]
    assert plan_splits(units, 1) == [(0, 42)]
    # never more splits than TARGET-sized record runs
    assert plan_splits([(0, 10, 5), (10, 20, 5)], 8) == [(0, 20)]
    assert plan_splits([(0, 10, 0)], 8) == []
    assert plan_splits([], 8) == []


def _count_zip_finders(_split):
    import os
    import sys
    import zipimport

    cache = sys.path_importer_cache
    yield [{"pid": os.getpid(), "zip_finders": sum(isinstance(f, zipimport.zipimporter) for f in cache.values())}]


def test_decode_tasks_leave_no_zip_finders(spark):
    # the Python worker imports pyspark from a zip; a cached zip finder
    # makes every later task's importlib.invalidate_caches() re-read
    # the archive's directory, so decode tasks keep none
    import pyarrow as pa
    from pyspark.sql import types as T

    from bamboo_spark.sources._splits import decode_splits

    schema = T.StructType([
        T.StructField("pid", T.LongType()), T.StructField("zip_finders", T.LongType()),
    ])
    trimmed = set()
    for _ in range(2):
        rows = decode_splits(spark, list(range(8)), _count_zip_finders, schema).collect()
        assert [r.zip_finders for r in rows] == [0] * 8
        trimmed |= {r.pid for r in rows}

    # and nothing puts them back between tasks: a later Python task in a
    # trimmed worker, which does not drop them itself, finds none either
    def count_only(batches):
        import os
        import sys
        import zipimport

        for _ in batches:
            n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
            yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "zip_finders": [n]})

    later = spark.range(0, 4, 1, 4).mapInArrow(count_only, schema).collect()
    seen = [r.zip_finders for r in later if r.pid in trimmed]
    assert seen and seen == [0] * len(seen)


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path, monkeypatch):
    import importlib
    import sys
    import zipfile
    import zipimport

    from bamboo_spark.sources._splits import _drop_zip_finders

    def make_zip(name, files):
        path = str(tmp_path / name)
        with zipfile.ZipFile(path, "w") as zf:
            for member, src in files.items():
                zf.writestr(member, src)
        return path

    def zip_finders():
        return {p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)}

    first = make_zip("first.zip", {
        "zdrop_pkg/__init__.py": "",
        "zdrop_pkg/a.py": "A = 1\n",
        "zdrop_pkg/sub/__init__.py": "",
        "zdrop_pkg/sub/b.py": "B = 2\n",
    })
    second = make_zip("second.zip", {"zdrop_late.py": "C = 3\n"})
    monkeypatch.setattr(sys, "path", sys.path + [first])

    assert importlib.import_module("zdrop_pkg.a").A == 1
    assert first in zip_finders()
    directory = zipimport._zip_directory_cache[first]
    _drop_zip_finders()
    assert not zip_finders()
    # imported modules stay; the rest of the zip, its subpackage and a
    # zip added afterwards still import
    assert sys.modules["zdrop_pkg.a"].A == 1
    assert importlib.import_module("zdrop_pkg.sub.b").B == 2
    sys.path.append(second)
    assert importlib.import_module("zdrop_late").C == 3
    # the rebuilt finder reuses the directory read at first import
    assert zipimport._zip_directory_cache[first] is directory


# ------------------------------------------------------------- objects


def test_object_arrow_path_matches_classic_builder(spark, monkeypatch):
    import datetime as dt
    import decimal
    import enum
    import time

    import bamboo_spark.sources.obj as obj_mod

    def _no_arrow(*args):
        # refuse the Arrow table: the frame comes from the classic
        # spark.createDataFrame(rows, schema) builder
        raise ValueError("classic builder")

    class Color(enum.Enum):
        RED = 1
        BLUE = 2

    rows = [
        {
            "ts": dt.datetime(2020, 1, 1, 12, 0, 0, 123456),
            "day": dt.date(2020, 1, 2),
            "dec": decimal.Decimal("-123.45"),
            "raw": b"\x00\xff",
            "color": Color.RED,
            "nothing": None,
            "empty": [],
            "nested": {"when": [dt.datetime(2021, 7, 4, 23, 59)], "tags": []},
        },
        {
            "ts": dt.datetime(2020, 7, 1, 0, 0),
            "day": None,
            "dec": decimal.Decimal("7"),
            "raw": bytearray(b"ab"),
            "color": Color.BLUE,
            "nothing": None,
            "empty": [],
            "nested": {"when": [], "tags": ["x"]},
        },
    ]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        arrow_df = from_object(rows, spark=spark).df
        assert "LocalTableScan" in arrow_df._jdf.queryExecution().executedPlan().toString()
        with monkeypatch.context() as m:
            m.setattr(obj_mod, "_arrow_table", _no_arrow)
            classic_df = from_object(rows, spark=spark).df
        assert arrow_df.schema == classic_df.schema
        assert arrow_df.collect() == classic_df.collect()
        # naive datetimes are local wall time: 12:00 New York = 17:00 UTC
        assert arrow_df.selectExpr("unix_micros(ts)").first()[0] == 1577898000123456
        # 9999-12-31 23:00 New York is year 10000 in UTC: no aware
        # datetime holds it, so the document takes the classic builder
        edge = [{"ts": dt.datetime(9999, 12, 31, 23)}]
        edge_df = from_object(edge, spark=spark).df
        assert "LocalTableScan" not in edge_df._jdf.queryExecution().executedPlan().toString()
        assert edge_df.selectExpr("unix_micros(ts)").first()[0] == 253402315200000000
        with monkeypatch.context() as m:
            m.setattr(obj_mod, "_arrow_table", _no_arrow)
            assert from_object(edge, spark=spark).df.collect() == edge_df.collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_order_json_document_takes_arrow_path(spark):
    doc = [
        {
            "id": i,
            "user": {"name": "u%d" % i, "age": None if i % 3 else 30 + i},
            "items": [
                {"sku": "k%d" % j, "qty": j, "price": 1.5 * j, "tags": ["t"] * (j % 3)}
                for j in range(i % 4)
            ],
            "payload": "x" * i,
        }
        for i in range(12)
    ]
    ds = from_json(json.dumps(doc), spark=spark)
    assert "LocalTableScan" in ds.df._jdf.queryExecution().executedPlan().toString()
    got = ds.df.select("id", "user.name", "user.age", "items").collect()
    assert [(r.id, r.name, r.age, len(r["items"])) for r in got] == [
        (d["id"], d["user"]["name"], d["user"]["age"], len(d["items"])) for d in doc
    ]


def test_dict_as_list(spark):
    # F11: dict_as_record=False → list of key/value records
    ds = from_object({"k1": 1, "k2": 2}, dict_as_record=False)
    pdf = ds.flatten().to_pandas()
    assert_frame({"key": ["k1", "k2"], "value": [1, 2]}, pdf)


def test_object_map_column(spark):
    # MapType flatten support (extension): map explodes to key/value
    pass


# ---------------------------------------------------------------- Flat files


def test_flat_csv_roundtrip(spark, tmp_path):
    from bamboo_spark import read_csv

    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    pdf = read_csv(p, spark).to_pandas().sort_values("a").reset_index(drop=True)
    assert_frame({"a": [1, 2], "b": ["x", "y"]}, pdf)
    # explicit DDL schema skips inference
    pdf2 = read_csv(p, spark, schema="a LONG, b STRING").to_pandas()
    assert list(pdf2.columns) == ["a", "b"]


def test_flat_parquet_orc_roundtrip(spark, tmp_path):
    from bamboo_spark import read_orc, read_parquet

    df = spark.createDataFrame([(1, "x"), (2, "y")], "a LONG, b STRING")
    pq, orc = str(tmp_path / "pq"), str(tmp_path / "orc")
    df.write.parquet(pq)
    df.write.orc(orc)
    for reader, path in ((read_parquet, pq), (read_orc, orc)):
        pdf = reader(path, spark).to_pandas().sort_values("a").reset_index(drop=True)
        assert_frame({"a": [1, 2], "b": ["x", "y"]}, pdf)


def test_flat_text_lines(spark, tmp_path):
    from bamboo_spark import read_text

    p = str(tmp_path / "t.txt")
    with open(p, "w") as f:
        f.write("hello\nworld\n")
    pdf = read_text(p, spark, line_name="line").to_pandas()
    assert sorted(pdf["line"]) == ["hello", "world"]


def test_avro_resolution_applies_reader_logical_type(spark, tmp_path):
    # spec order: resolve the raw promotion (int -> long) FIRST, then
    # apply the reader's logical annotation (timestamp-millis -> us)
    from bamboo_spark import from_avro

    writer = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "ts", "type": "int"}],
    }
    reader = {
        "type": "record",
        "name": "t",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            }
        ],
    }
    p = tmp_path / "lt.avro"
    p.write_bytes(_avro_bytes(writer, [{"ts": 1500}]))
    row = from_avro(str(p), reader_schema=reader).df.collect()[0]
    import datetime

    assert row["ts"] == datetime.datetime(1970, 1, 1, 0, 0, 1, 500000)


def test_merge_default_survives_nullable_union():
    # a non-null default merged against a nullable union must stay the
    # FILLED value (spec: union default conforms to branch 0) — the
    # merge reorders the union so the value branch leads, instead of
    # leaving an invalid null-first union that silently fills None
    from bamboo_spark.sources._avro_py import _default_value, merge_avro_schemas

    a = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "x", "type": "long", "default": 5}],
    }
    b = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "x", "type": ["null", "long"]}],
    }
    for lhs, rhs in ((a, b), (b, a)):
        m = merge_avro_schemas(lhs, rhs)
        f = {f["name"]: f for f in m["fields"]}["x"]
        assert f["type"][0] != "null" and "null" in f["type"]
        assert f["default"] == 5
        assert _default_value(f["type"], f["default"], {}) == 5
    # explicit None default keeps a VALID null-first union
    a2 = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "x", "type": ["null", "long"], "default": None}],
    }
    b2 = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "x", "type": "long"}],
    }
    m2 = merge_avro_schemas(a2, b2)
    f2 = {f["name"]: f for f in m2["fields"]}["x"]
    assert f2["type"][0] == "null" and f2["default"] is None


# ------------------------------------- schema-resolution property fuzz


def test_avro_schema_resolution_fuzz(spark):
    """Hypothesis sweep of the reader-vs-writer resolution matrix
    (promotions, field reorder, writer-only skip, reader-only defaults,
    enum fallback, nullable unions) against an independent pure-Python
    expectation model — the Avro twin of the PBD wire fuzz."""
    import struct

    from hypothesis import HealthCheck, given, settings, strategies as st

    PROMO = {
        "int": ["int", "long", "float", "double"],
        "long": ["long", "float", "double"],
        "float": ["float", "double"],
        "double": ["double"],
        "string": ["string", "bytes"],
        "bytes": ["bytes", "string"],
        "boolean": ["boolean"],
    }

    def value_for(prim, draw, i):
        if prim in ("int", "long"):
            return draw(st.integers(-1000, 1000), label="v%d" % i)
        if prim in ("float", "double"):
            return draw(st.integers(-64, 64), label="v%d" % i) / 4.0
        if prim == "boolean":
            return draw(st.booleans(), label="v%d" % i)
        if prim == "string":
            return draw(st.text(alphabet="abcXYZ", max_size=5), label="v%d" % i)
        return draw(
            st.text(alphabet="mnpq", max_size=5), label="v%d" % i
        ).encode()

    def conv(v, wprim, rprim):
        if v is None:
            return None
        if wprim in ("int", "long") and rprim in ("float", "double"):
            return float(v)
        if wprim == "float" and rprim in ("float", "double"):
            return struct.unpack("<f", struct.pack("<f", v))[0]
        if wprim == "string" and rprim == "bytes":
            return v.encode()
        if wprim == "bytes" and rprim == "string":
            return v.decode()
        return v

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(data=st.data())
    def run(data):
        draw = data.draw
        n_fields = draw(st.integers(1, 4), label="n_fields")
        specs = []
        for i in range(n_fields):
            name = "f%d" % i
            kind = draw(
                st.sampled_from(["prim", "nullable", "enum"]), label="kind%d" % i
            )
            dropped = draw(st.booleans(), label="drop%d" % i)
            if kind == "enum":
                wt = {"type": "enum", "name": "E%d" % i, "symbols": ["A", "B", "C"]}
                narrow = draw(st.booleans(), label="narrow%d" % i)
                rt = (
                    {
                        "type": "enum",
                        "name": "E%d" % i,
                        "symbols": ["A", "B"],
                        "default": "A",
                    }
                    if narrow
                    else wt
                )
                specs.append((name, kind, wt, rt, None, None, dropped))
            else:
                wprim = draw(st.sampled_from(list(PROMO)), label="wp%d" % i)
                rprim = draw(st.sampled_from(PROMO[wprim]), label="rp%d" % i)
                wt = ["null", wprim] if kind == "nullable" else wprim
                rt = ["null", rprim] if kind == "nullable" else rprim
                specs.append((name, kind, wt, rt, wprim, rprim, dropped))
        # never drop EVERY field from the reader
        if all(s[6] for s in specs):
            specs[0] = specs[0][:6] + (False,)

        writer = {
            "type": "record",
            "name": "t",
            "fields": [{"name": s[0], "type": s[2]} for s in specs],
        }
        reader_fields = [
            {"name": s[0], "type": s[3]} for s in specs if not s[6]
        ]
        extra = draw(st.booleans(), label="extra")
        if extra:
            reader_fields.append({"name": "extra", "type": "long", "default": 7})
        perm = draw(st.permutations(reader_fields), label="perm")
        reader = {"type": "record", "name": "t", "fields": list(perm)}

        n_rec = draw(st.integers(0, 4), label="n_rec")
        records, expected = [], []
        for ri in range(n_rec):
            rec, exp = {}, {}
            for (name, kind, wt, rt, wprim, rprim, dropped) in specs:
                if kind == "enum":
                    sym = draw(
                        st.sampled_from(["A", "B", "C"]), label="e%s_%d" % (name, ri)
                    )
                    rec[name] = sym
                    if not dropped:
                        exp[name] = sym if sym in rt["symbols"] else "A"
                    continue
                if kind == "nullable" and draw(
                    st.booleans(), label="null%s_%d" % (name, ri)
                ):
                    rec[name] = None
                    if not dropped:
                        exp[name] = None
                    continue
                v = value_for(wprim, draw, ri * 10 + int(name[1:]))
                if wprim == "float":
                    v = struct.unpack("<f", struct.pack("<f", v))[0]
                rec[name] = v
                if not dropped:
                    exp[name] = conv(v, wprim, rprim)
            if extra:
                exp["extra"] = 7
            records.append(rec)
            expected.append(exp)

        raw = _avro_bytes(writer, records)
        got = from_avro(raw, reader_schema=reader).to_arrow().to_pylist()
        norm = [
            {k: (bytes(v) if isinstance(v, (bytes, bytearray)) else v)
             for k, v in row.items()}
            for row in got
        ]
        assert norm == expected, (writer, reader, records)

    run()


def test_avro_writer_roundtrip_all_types(spark, tmp_path):
    # the pure-Python container writer must round-trip every supported
    # type family through our own decoder (null + deflate codecs)
    from bamboo_spark.sources.avro import read_avro_py

    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "opt", "type": ["null", "long"]},
            {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "N",
                    "fields": [{"name": "v", "type": "double"}],
                },
            },
        ],
    }
    records = [
        {
            "i": k,
            "s": "row-%d" % k,
            "d": k * 1.5,
            "b": k % 2 == 0,
            "raw": b"\x00\x01" * k,
            "opt": None if k % 3 == 0 else k * 10,
            "e": "A" if k % 2 == 0 else "B",
            "xs": list(range(k % 4)),
            "nested": {"v": -k / 2.0},
        }
        for k in range(200)
    ]
    from bamboo_spark.sources._avro_py import write_container

    for codec in ("null", "deflate"):
        p = str(tmp_path / ("rt_%s.avro" % codec))
        write_container(p, schema, records, codec=codec, records_per_block=64)
        back = read_avro_py(p, spark=spark).df.orderBy("i").collect()
        assert len(back) == 200
        for k, r in enumerate(back):
            assert r["i"] == k and r["s"] == "row-%d" % k
            assert r["d"] == k * 1.5 and r["b"] == (k % 2 == 0)
            assert bytes(r["raw"]) == b"\x00\x01" * k
            assert r["opt"] == (None if k % 3 == 0 else k * 10)
            assert r["e"] == ("A" if k % 2 == 0 else "B")
            assert list(r["xs"]) == list(range(k % 4))
            assert r["nested"]["v"] == -k / 2.0


def test_avro_writer_multibranch_union_and_named_reuse(spark, tmp_path):
    # the writer must pick union branches by VALUE TYPE (a long through
    # ["string","long"] must encode as long, not str(long)); general
    # unions stay un-readable as Spark schemas (reference parity), so
    # verify at the container-decode level; named-enum reuse by
    # reference must encode and round-trip through the full read path
    from bamboo_spark.sources._avro_py import (
        compile_decoder,
        decompress_block,
        write_container,
    )
    from bamboo_spark.sources.avro import read_avro_py

    gen_schema = {
        "type": "record",
        "name": "U",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "sl", "type": ["string", "long"]},
            {"name": "ls", "type": ["null", "long", "string"]},
        ],
    }
    records = [
        {"k": 0, "sl": "txt", "ls": None},
        {"k": 1, "sl": 42, "ls": 7},
        {"k": 2, "sl": "x", "ls": "y"},
    ]
    p = str(tmp_path / "union.avro")
    write_container(p, gen_schema, records)
    data = open(p, "rb").read()
    schema, codec, blocks = _avro_blocks(data)
    vals = []
    decode = compile_decoder(schema)
    for n, payload in blocks:
        vals.extend(decode(decompress_block(payload, codec), n))
    by_k = {v["k"]: v for v in vals}
    assert by_k[0]["sl"] == "txt" and by_k[0]["ls"] is None
    assert by_k[1]["sl"] == 42 and by_k[1]["ls"] == 7      # NOT "42"
    assert by_k[2]["sl"] == "x" and by_k[2]["ls"] == "y"

    named_schema = {
        "type": "record",
        "name": "N",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "e1", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
            {"name": "e2", "type": "E"},  # reuse by reference
        ],
    }
    p2 = str(tmp_path / "named.avro")
    write_container(p2, named_schema, [{"k": 1, "e1": "A", "e2": "B"}])
    back = read_avro_py(p2, spark=spark).df.collect()
    assert back[0]["e1"] == "A" and back[0]["e2"] == "B"


def test_read_union_mixed_formats_and_widening(spark, tmp_path):
    # parquet + jsonl + csv eras of one logical table: union by name,
    # missing columns null-filled, int/double drift widened, row-exact
    import json
    import os

    from bamboo_spark import read_union

    pq = str(tmp_path / "era1.parquet")
    spark.createDataFrame(
        [(1, 1.5), (2, 2.5)], "id bigint, x double"
    ).coalesce(1).write.parquet(pq)

    jl = str(tmp_path / "era2.jsonl")
    with open(jl, "w") as f:
        f.write(json.dumps({"id": 3, "y": "new"}) + "\n")
        f.write(json.dumps({"id": 4, "y": "col"}) + "\n")

    cs = str(tmp_path / "era3.csv")
    os.makedirs(cs)
    with open(os.path.join(cs, "part.csv"), "w") as f:
        f.write("id,x\n5,7\n")  # x inferred INT here -> must widen to double

    ds = read_union([pq, jl, cs], spark=spark)
    rows = {r.id: (r.x, r.y) for r in ds.df.collect()}
    assert rows == {
        1: (1.5, None),
        2: (2.5, None),
        3: (None, "new"),
        4: (None, "col"),
        5: (7.0, None),
    }
    types = dict((f.name, f.dataType.simpleString()) for f in ds.df.schema.fields)
    assert types == {"id": "bigint", "x": "double", "y": "string"}
    # union is plan-level: no shuffle exchange anywhere
    s = ds.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in s


def test_read_union_complex_drift_raises(spark, tmp_path):
    import json

    from bamboo_spark import read_union

    a = str(tmp_path / "a.jsonl")
    with open(a, "w") as f:
        f.write(json.dumps({"id": 1, "p": {"q": 1}}) + "\n")
    b = str(tmp_path / "b.jsonl")
    with open(b, "w") as f:
        f.write(json.dumps({"id": 2, "p": [1, 2]}) + "\n")
    import pytest as _pt

    with _pt.raises(TypeError, match="complex"):
        read_union([a, b], spark=spark)


def test_read_union_decimal_widening_lossless(spark, tmp_path):
    # decimal drift must widen to a type that holds BOTH integer digits
    # and scale (decimal(10,2) + decimal(12,0) -> decimal(14,2)), and
    # decimal + bigint keeps the scale — fractional cents must survive
    from decimal import Decimal

    from bamboo_spark import read_union

    a = str(tmp_path / "a.parquet")
    spark.createDataFrame(
        [(1, Decimal("1.25"))], "id bigint, amt decimal(10,2)"
    ).write.parquet(a)
    b = str(tmp_path / "b.parquet")
    spark.createDataFrame(
        [(2, Decimal("123456789012"))], "id bigint, amt decimal(12,0)"
    ).write.parquet(b)
    ds = read_union([a, b], spark=spark)
    types = {f.name: f.dataType.simpleString() for f in ds.df.schema.fields}
    assert types["amt"] == "decimal(14,2)", types
    vals = {r.id: r.amt for r in ds.df.collect()}
    assert vals[1] == Decimal("1.25")  # NOT rounded to 1
    assert vals[2] == Decimal("123456789012")

    # decimal + bigint: scale preserved, integer digits sized for bigint
    c = str(tmp_path / "c.parquet")
    spark.createDataFrame([(3, 7)], "id bigint, amt bigint").write.parquet(c)
    ds2 = read_union([a, c], spark=spark)
    t2 = {f.name: f.dataType.simpleString() for f in ds2.df.schema.fields}
    assert t2["amt"] == "decimal(21,2)", t2
    v2 = {r.id: r.amt for r in ds2.df.collect()}
    assert v2[1] == Decimal("1.25") and v2[3] == Decimal("7.00")


def test_read_union_decimal_float_and_overflow(spark, tmp_path):
    from decimal import Decimal

    import pytest as _pt

    from bamboo_spark import read_union

    a = str(tmp_path / "a.parquet")
    spark.createDataFrame(
        [(1, Decimal("1.25"))], "id bigint, amt decimal(10,2)"
    ).write.parquet(a)
    # decimal + double -> double (binary floats have no exact decimal)
    b = str(tmp_path / "b.parquet")
    spark.createDataFrame(
        [(2, 2.5)], "id bigint, amt double"
    ).write.parquet(b)
    ds = read_union([a, b], spark=spark)
    assert dict(
        (f.name, f.dataType.simpleString()) for f in ds.df.schema.fields
    )["amt"] == "double"
    # unrepresentable pair (38 integer digits + scale) raises, never rounds
    c = str(tmp_path / "c.parquet")
    spark.createDataFrame(
        [(3, Decimal(0))], "id bigint, amt decimal(38,0)"
    ).write.parquet(c)
    with _pt.raises(TypeError, match="losslessly"):
        read_union([a, c], spark=spark)


def test_read_xml_nested_and_flatten(spark, tmp_path):
    # Spark 4 built-in XML: row per rowTag, nested elements become
    # structs/arrays — the same shape the JSON source feeds flatten
    from bamboo_spark import read_xml

    p = str(tmp_path / "d.xml")
    with open(p, "w") as f:
        f.write(
            "<rows>"
            "<row><id>1</id><tags><t>a</t><t>b</t></tags></row>"
            "<row><id>2</id><tags><t>c</t></tags></row>"
            "</rows>"
        )
    ds = read_xml(p, spark=spark)
    flat = ds.flatten()
    rows = sorted((r["id"], r["t"]) for r in flat.df.collect())
    assert rows == [(1, "a"), (1, "b"), (2, "c")]


def test_read_union_xml_and_txt_branches(spark, tmp_path):
    from bamboo_spark import read_union

    x = str(tmp_path / "era1.xml")
    with open(x, "w") as f:
        f.write("<rows><row><id>1</id><text>alpha</text></row></rows>")
    t = str(tmp_path / "era2.txt")
    with open(t, "w") as f:
        f.write("beta\ngamma\n")
    ds = read_union([x, t], spark=spark)
    rows = {(r["id"], r["text"]) for r in ds.df.collect()}
    assert rows == {(1, "alpha"), (None, "beta"), (None, "gamma")}
