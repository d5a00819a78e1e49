"""PBD source tests against the reference's golden file
(reference python/bamboo_tests/data/example.pbd; expectations from
pbd_tests.py:62-92 / FIXTURES.md F7), plus executor-decode perf and
decode-time clusion pushdown gates (pbd_tests.py:42-58)."""

import math
import struct
import time

import pytest

from bamboo_spark import from_pbd
from bamboo_spark.clusions import ClusionError
from tests.conftest import assert_frame, assert_one_job_no_exchange, spy_split_tables

GOLDEN = "/root/reference/python/bamboo_tests/data/example.pbd"


# ---------------------------------------------------------------- encoder
# Minimal test-side PBD writer: public protobuf wire format + the
# container layout _pbd_py documents (magic, version, descriptors, root
# name, length-prefixed messages). Used to synthesize corpora the golden
# file can't express (1M records, malformed excluded fields).


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(number: int, wire: int) -> bytes:
    return _varint((number << 3) | wire)


def _ld(number: int, payload: bytes) -> bytes:
    return _tag(number, 2) + _varint(len(payload)) + payload


def _field_desc(name: str, number: int, ftype: int, label: int = 1, type_name: str = "") -> bytes:
    out = _ld(1, name.encode()) + _tag(3, 0) + _varint(number)
    out += _tag(4, 0) + _varint(label) + _tag(5, 0) + _varint(ftype)
    if type_name:
        out += _ld(6, type_name.encode())
    return out


def _message_desc(name: str, fields: list, nested: list = ()) -> bytes:
    out = _ld(1, name.encode())
    for f in fields:
        out += _ld(2, f)
    for n in nested:
        out += _ld(3, n)
    return out


def _container(message_descs: list, root: str, records: list) -> bytes:
    fdp = _ld(2, b"t")  # package "t"
    for m in message_descs:
        fdp += _ld(4, m)
    out = bytearray(b"\x00\x00\x10\xbd\x01")
    out += _varint(1) + _varint(len(fdp)) + fdp
    out += _varint(len(root)) + root.encode()
    for r in records:
        out += _varint(len(r)) + r
    return bytes(out)


def test_pbd_perf_gate_1m_records(spark, tmp_path):
    # Reference gate: 1M PBD records decode in < 5 s (pbd_tests.py:42-58,
    # C++ decoder). Same budget here via executor-parallel mapInArrow
    # decode — an order-of-magnitude gate (≥ 200k rec/s), not a ±20% one.
    desc = _message_desc(
        "Rec",
        [
            _field_desc("a", 1, 3),   # int64
            _field_desc("s", 2, 9),   # string
            _field_desc("d", 3, 1),   # double
        ],
    )
    n = 1_000_000
    d_payload = _tag(3, 1) + struct.pack("<d", 1.25)
    strs = [_ld(2, ("doc%d" % i).encode()) for i in range(1000)]
    records = [
        _tag(1, 0) + _varint(i) + strs[i % 1000] + d_payload for i in range(n)
    ]
    path = tmp_path / "perf1m.pbd"
    path.write_bytes(_container([desc], "t.Rec", records))
    del records

    # one warmup pass: JVM JIT + python worker spawn + Arrow init are
    # session one-time costs, not decode throughput; gate steady state.
    assert from_pbd(str(path), spark=spark).df.count() == n

    start = time.perf_counter()
    ds = from_pbd(str(path), spark=spark)
    got = ds.df.count()
    elapsed = time.perf_counter() - start
    assert got == n
    assert elapsed < 5.0, "1M-record PBD decode took %.2fs (< 200k rec/s)" % elapsed


def test_pbd_clusion_pushdown_skips_excluded_bytes(spark):
    # Excluded fields must never be parsed (reference pbd.cpp:50-83):
    # plant invalid UTF-8 in an excluded string field and structurally
    # bogus bytes in an excluded nested message. Wire-skip decode
    # succeeds; materializing decode would raise.
    inner = _message_desc("Inner", [_field_desc("x", 1, 3)])
    desc = _message_desc(
        "Rec",
        [
            _field_desc("keep", 1, 3),
            _field_desc("bad_s", 2, 9),
            _field_desc("bad_m", 3, 11, type_name=".t.Rec.Inner"),
        ],
        nested=[inner],
    )
    rec = (
        _tag(1, 0)
        + _varint(7)
        + _ld(2, b"\xff\xfe\xff")          # invalid UTF-8
        + _ld(3, b"\xff\xff\xff\xff\xff")  # malformed nested message
    )
    data = _container([desc], "t.Rec", [rec])

    pdf = from_pbd(data, include=["keep"], spark=spark).flatten().to_pandas()
    assert list(pdf.columns) == ["keep"]
    assert list(pdf["keep"]) == [7]

    pdf = from_pbd(data, exclude=["bad_s", "bad_m"], spark=spark).flatten().to_pandas()
    assert list(pdf["keep"]) == [7]

    # sanity: actually decoding the planted fields raises
    with pytest.raises(Exception):
        from_pbd(data, spark=spark).flatten().to_pandas()


def _encode_value(ftype: int, number: int, value) -> bytes:
    if ftype == 3:  # int64 (two's-complement varint)
        return _tag(number, 0) + _varint(value & ((1 << 64) - 1))
    if ftype == 18:  # sint64 zigzag
        return _tag(number, 0) + _varint((value << 1) ^ (value >> 63))
    if ftype == 16:  # sfixed64
        return _tag(number, 1) + struct.pack("<q", value)
    if ftype == 1:  # double
        return _tag(number, 1) + struct.pack("<d", value)
    if ftype == 2:  # float
        return _tag(number, 5) + struct.pack("<f", value)
    if ftype == 8:  # bool
        return _tag(number, 0) + _varint(1 if value else 0)
    if ftype == 9:  # string
        return _ld(number, value.encode("utf-8"))
    if ftype == 12:  # bytes
        return _ld(number, value)
    raise AssertionError(ftype)


def test_pbd_wire_roundtrip_fuzz(spark):
    # hypothesis round-trip over the wire format: random values for each
    # scalar family (plus an unpacked repeated int64 and a nested
    # message) encode → executor decode → exact value equality. Pins
    # zigzag/two's-complement/fixed endianness and repeated/nested walks.
    import struct as _s

    from hypothesis import given, settings, strategies as st

    i64 = st.integers(-(2**63), 2**63 - 1)
    f32 = st.floats(allow_nan=False, width=32)
    f64 = st.floats(allow_nan=False)
    txt = st.text(max_size=20)
    blob = st.binary(max_size=20)

    desc = _message_desc(
        "Rec",
        [
            _field_desc("a", 1, 3),    # int64
            _field_desc("z", 2, 18),   # sint64
            _field_desc("x", 3, 16),   # sfixed64
            _field_desc("d", 4, 1),    # double
            _field_desc("f", 5, 2),    # float
            _field_desc("b", 6, 8),    # bool
            _field_desc("s", 7, 9),    # string
            _field_desc("by", 8, 12),  # bytes
            _field_desc("r", 9, 3, label=3),  # repeated int64
            _field_desc("m", 10, 11, type_name=".t.Rec.Inner"),
        ],
        nested=[_message_desc("Inner", [_field_desc("v", 1, 3)])],
    )

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.tuples(i64, i64, i64, f64, f32, st.booleans(), txt, blob,
                      st.lists(i64, max_size=4), i64),
            min_size=1,
            max_size=5,
        )
    )
    def run(rows):
        # row index rides in the string field so got/want pair uniquely
        rows = [
            (a, z, x, d, f, b, "%d:%s" % (i, s), by, r, mv)
            for i, (a, z, x, d, f, b, s, by, r, mv) in enumerate(rows)
        ]
        records = []
        for a, z, x, d, f, b, s, by, r, mv in rows:
            rec = (
                _encode_value(3, 1, a)
                + _encode_value(18, 2, z)
                + _encode_value(16, 3, x)
                + _encode_value(1, 4, d)
                + _encode_value(2, 5, f)
                + _encode_value(8, 6, b)
                + _encode_value(9, 7, s)
                + _encode_value(12, 8, by)
                + b"".join(_encode_value(3, 9, ri) for ri in r)
                + _ld(10, _encode_value(3, 1, mv))
            )
            records.append(rec)
        got = sorted(
            from_pbd(_container([desc], "t.Rec", records), spark=spark).df.collect(),
            key=lambda row: int(row["s"].split(":", 1)[0]),
        )
        for row, (a, z, x, d, f, b, s, by, r, mv) in zip(got, rows):
            assert row["a"] == a and row["z"] == z and row["x"] == x
            assert row["d"] == d
            assert row["f"] == _s.unpack("<f", _s.pack("<f", f))[0]
            assert row["b"] == b and row["s"] == s and row["by"] == by
            assert list(row["r"]) == r
            assert row["m"]["v"] == mv

    run()


def test_read_pbd_multifile(spark, tmp_path):
    # many-files scale path: one decode task per file, executor-side
    # header parse, clusion pushdown applied per task
    desc = _message_desc(
        "Rec", [_field_desc("a", 1, 3), _field_desc("s", 2, 9)]
    )
    for fi in range(3):
        recs = [
            _tag(1, 0) + _varint(fi * 10 + i) + _ld(2, b"x%d" % i) for i in range(5)
        ]
        (tmp_path / ("part%d.pbd" % fi)).write_bytes(_container([desc], "t.Rec", recs))

    from bamboo_spark import read_pbd

    ds = read_pbd(str(tmp_path / "*.pbd"), spark=spark)
    pdf = ds.flatten().to_pandas()
    assert sorted(pdf["a"]) == sorted([f * 10 + i for f in range(3) for i in range(5)])

    pdf = read_pbd(str(tmp_path / "*.pbd"), include=["a"], spark=spark).flatten().to_pandas()
    assert list(pdf.columns) == ["a"]

    # schema evolution: same field number in the same wire class (here
    # renamed + a writer-only extra field) decodes under the READER
    # descriptor — resolution is by field number
    desc2 = _message_desc(
        "Rec", [_field_desc("z", 1, 3), _field_desc("extra", 3, 3)]
    )
    (tmp_path / "evolved.pbd").write_bytes(
        _container([desc2], "t.Rec", [_tag(1, 0) + _varint(99) + _tag(3, 0) + _varint(7)])
    )
    # reader descriptor = first file's → field 1 surfaces as "a"
    files = [str(tmp_path / ("part%d.pbd" % fi)) for fi in range(3)] + [
        str(tmp_path / "evolved.pbd")
    ]
    pdf = read_pbd(files, spark=spark).flatten().to_pandas()
    assert 99 in set(pdf["a"]) and "extra" not in pdf.columns

    # wire-class change on a shared number (varint → length-delimited)
    # is the one unsafe case — must surface, not garble
    desc3 = _message_desc("Rec", [_field_desc("a", 1, 9)])
    (tmp_path / "bad.pbd").write_bytes(_container([desc3], "t.Rec", []))
    with pytest.raises(Exception):
        read_pbd(str(tmp_path / "*.pbd"), spark=spark).flatten().to_pandas()


def _rec_file(path, n):
    desc = _message_desc("Rec", [_field_desc("a", 1, 3), _field_desc("s", 2, 9)])
    recs = [_tag(1, 0) + _varint(i) + _ld(2, b"x%d" % (i % 9)) for i in range(n)]
    data = _container([desc], "t.Rec", recs)
    path.write_bytes(data)
    return data


def test_pbd_decode_is_one_job_without_exchange(spark, tmp_path):
    from bamboo_spark import read_pbd

    path = tmp_path / "recs.pbd"
    data = _rec_file(path, 5000)
    for ds in (
        from_pbd(str(path), spark=spark),
        from_pbd(data, exclude=["s"], spark=spark),
        read_pbd([str(path), str(path)], spark=spark),
    ):
        assert_one_job_no_exchange(spark, ds.df)


def test_pbd_keeps_file_order(spark, tmp_path, monkeypatch):
    import bamboo_spark.sources.pbd as pbd_mod

    seen = spy_split_tables(monkeypatch, pbd_mod)
    n = 8 * 2048
    path = tmp_path / "recs.pbd"
    data = _rec_file(path, n)
    for source in (str(path), data):
        got = [r.a for r in from_pbd(source, spark=spark).df.select("a").collect()]
        assert got == list(range(n))
        # 8 x 2048 records: one split per core up to 8, as (start, end)
        assert len(seen[-1]) == min(spark.sparkContext.defaultParallelism, 8)
        assert all(len(split) == 2 for split in seen[-1])


def test_pbd_split_singular_message_merges(spark):
    # Protobuf spec: repeated wire occurrences of a singular message
    # field merge (concatenation of their payloads), not last-wins.
    inner = _message_desc(
        "Inner", [_field_desc("x", 1, 3), _field_desc("y", 2, 3)]
    )
    desc = _message_desc(
        "Rec",
        [_field_desc("m", 1, 11, type_name=".t.Rec.Inner")],
        nested=[inner],
    )
    part1 = _ld(1, _tag(1, 0) + _varint(5))            # m.x = 5
    part2 = _ld(1, _tag(2, 0) + _varint(9))            # m.y = 9
    data = _container([desc], "t.Rec", [part1 + part2])
    pdf = from_pbd(data, spark=spark).flatten().to_pandas()
    assert list(pdf["x"]) == [5]
    assert list(pdf["y"]) == [9]


def test_pbd_flatten_defaults(spark):
    ds = from_pbd(GOLDEN, exclude=["rm"])
    pdf = ds.flatten().to_pandas()
    # exploding f broadcasts scalars ×2; sd/de are MISSING in the data and
    # must surface as proto defaults, not nulls
    assert list(pdf["a"]) == [13, 13]
    assert list(pdf["b"]) == [23, 23]
    assert list(pdf["c"]) == [33, 33]
    assert all(abs(x - -1.3) < 1e-6 for x in pdf["d"])
    assert list(pdf["e"]) == ["B", "B"]
    assert [round(x, 4) for x in pdf["f"]] == [2.3, 3.3]
    assert list(pdf["s"]) == ["test", "test"]
    assert list(pdf["sd"]) == ["", ""]
    assert list(pdf["de"]) == ["DE1", "DE1"]


def test_pbd_include_rm(spark):
    pdf = from_pbd(GOLDEN, include=["rm"]).flatten().to_pandas()
    assert list(pdf["b"]) == [11, 22]


def test_pbd_include_scalar_no_explosion(spark):
    pdf = from_pbd(GOLDEN).flatten(include=["a"]).to_pandas()
    assert_frame({"a": [13]}, pdf)
    pdf = from_pbd(GOLDEN).flatten(include=["m.b"]).to_pandas()
    assert_frame({"b": [23]}, pdf)


def test_pbd_conflicting_clusions(spark):
    with pytest.raises(ClusionError):
        from_pbd(GOLDEN, include=["a"], exclude=["a"])


def test_pbd_error_paths(spark):
    from bamboo_spark.sources._pbd_py import PbdDecodeError, parse_header

    with pytest.raises(PbdDecodeError):
        parse_header(b"NOPE" + b"\x00" * 10)  # bad magic
    # truncated record stream: length prefix points past EOF
    desc = _message_desc("Rec", [_field_desc("a", 1, 3)])
    data = _container([desc], "t.Rec", [_tag(1, 0) + _varint(7)])
    with pytest.raises(Exception):
        from_pbd(data[:-2], spark=spark).df.collect()
    # malformed varint (11 continuation bytes) raises, not hangs
    from bamboo_spark.sources._pbd_py import _read_varint

    with pytest.raises(PbdDecodeError):
        _read_varint(b"\xff" * 11 + b"\x00", 0)


def test_pbd_writer_roundtrip_with_golden_descriptor(spark, tmp_path):
    # encode fresh records against the GOLDEN file's own descriptor
    # block, then decode through the full read path: values round-trip,
    # omitted proto2 fields come back as DEFAULTS (not nulls), packed
    # repeated doubles and nested/repeated messages survive
    from bamboo_spark.sources._pbd_py import parse_header, write_pbd_records
    from bamboo_spark.sources.pbd import read_pbd

    data = open(GOLDEN, "rb").read()
    root, body_at = parse_header(data)
    records = [
        {
            "a": 7,
            "e": "E2" if "E2" in _enum_symbols(root, "e") else None,
            "f": [1.5, -2.25, 0.0],
            "s": "written-row",
            "rm": [{"b": 1.0}, {"b": 2.0}],
        },
        {"a": -3},  # everything else omitted -> proto2 defaults on decode
    ]
    # drop None-valued keys (enum symbol availability guard)
    records = [{k: v for k, v in r.items() if v is not None} for r in records]
    p = str(tmp_path / "written.pbd")
    write_pbd_records(p, data[:body_at], root, records)
    rows = read_pbd(p, spark=spark).df.orderBy("a").collect()
    assert len(rows) == 2
    sparse = rows[0] if rows[0]["a"] == -3 else rows[1]
    full = rows[1] if sparse is rows[0] else rows[0]
    assert full["a"] == 7 and full["s"] == "written-row"
    assert list(full["f"]) == [1.5, -2.25, 0.0]
    assert [m["b"] for m in full["rm"]] == [1.0, 2.0]
    # proto2 semantics: omitted scalar string decodes as '' not null
    assert sparse["s"] == "" and sparse["sd"] is not None
    assert sparse["f"] == []


def _enum_symbols(root, field_name):
    f = next(f for f in root.fields if f.name == field_name)
    return set(f.enum.values.values())
