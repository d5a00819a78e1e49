"""Minimal pure-Python Avro container-file decoder.

Implemented from the public Avro 1.x specification
(https://avro.apache.org/docs/current/specification/): container magic
``Obj\\x01``, metadata map with ``avro.schema``/``avro.codec``, 16-byte
sync marker, then blocks of (record count, byte size, payload, sync).
Codecs: null, deflate (raw DEFLATE). Values: zigzag-varint ints/longs,
little-endian IEEE floats, length-prefixed bytes/strings, index-coded
enums/unions, count-block arrays/maps, records as field concatenation.

This is the *fallback* path used when the spark-avro connector jar is not
on the classpath (see avro.py). Execution model: the driver scans only
block headers (count/size varints — payloads skipped), then the value
decode runs on executors inside ``mapInArrow`` over block ranges; Avro
blocks are the natural split unit (spec: each block is independently
decodable after the header). Clusion pushdown happens at decode time:
excluded fields are *walked but never materialized* (``_skip_value`` —
Avro's data-dependent sizes force the walk, but skipped strings/bytes/
subtrees allocate nothing), mirroring the reference's reader-schema
pruning (avro_direct.cpp:107-166).

Reference behaviors matched (decoder-level): enum → symbol string,
fixed/bytes → bytes, nullable union → None/value
(reference python/bamboo_tests/avro_tests.py:145-197); general
non-nullable unions raise, as in the reference (avro.hpp:56).
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any, Dict, Iterator, List, Tuple

from pyspark.sql import types as T

MAGIC = b"Obj\x01"


class AvroDecodeError(ValueError):
    pass


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        if len(out) != n:
            raise AvroDecodeError("Unexpected end of Avro data")
        self.pos += n
        return out

    def read_long(self) -> int:
        buf = self.buf
        pos = self.pos
        n = len(buf)
        shift = 0
        acc = 0
        while True:
            if pos >= n:
                raise AvroDecodeError("Unexpected end of Avro data")
            b = buf[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
            if shift > 70:
                raise AvroDecodeError("Malformed varint in Avro data")
        self.pos = pos
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def skip(self, n: int) -> None:
        if self.pos + n > len(self.buf):
            raise AvroDecodeError("Unexpected end of Avro data")
        self.pos += n

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())

    def read_utf8(self) -> str:
        try:
            return self.read_bytes().decode("utf-8")
        except UnicodeDecodeError as e:
            raise AvroDecodeError("Invalid UTF-8 in Avro string: %s" % e) from e


def _resolve_named(schema: Any, names: Dict[str, Any]) -> Any:
    """Register/replace named-type references."""
    if isinstance(schema, str) and schema in names:
        return names[schema]
    return schema


def _keeps_avro(schema: Any, fltr: Any, parent_included: bool, names: Dict[str, Any]) -> bool:
    """Mirror of projection._keeps on the Avro schema JSON: a subtree is
    kept iff it contains at least one included leaf. Decode-time pruning
    and the Catalyst nested projection therefore select the same columns."""
    schema = _resolve_named(schema, names)
    included = fltr.include.explicit or (parent_included and not fltr.exclude.explicit)
    if isinstance(schema, list):
        non_null = [s for s in schema if s != "null"]
        return _keeps_avro(non_null[0], fltr, parent_included, names) if len(non_null) == 1 else included
    if isinstance(schema, dict):
        stype = schema["type"]
        if stype == "record":
            return any(
                _keeps_avro(f["type"], fltr.child(f["name"]), included, names)
                for f in schema["fields"]
            )
        if stype == "array":
            return _keeps_avro(schema["items"], fltr, parent_included, names)
        if stype in ("enum", "fixed", "map"):
            return included
        return _keeps_avro(stype, fltr, parent_included, names)
    return included


def _skip_value(r: _Reader, schema: Any, names: Dict[str, Any]) -> None:
    """Advance the reader past one value without materializing anything —
    the decode-time half of clusion pushdown (the walk is forced by
    Avro's data-dependent sizes; allocation is not)."""
    schema = _resolve_named(schema, names)
    if isinstance(schema, list):  # union
        idx = r.read_long()
        if not 0 <= idx < len(schema):
            raise AvroDecodeError("Union branch index %d out of range" % idx)
        _skip_value(r, schema[idx], names)
        return
    if isinstance(schema, dict):
        stype = schema["type"]
        if stype == "record":
            if "name" in schema:
                names[schema["name"]] = schema
            for f in schema["fields"]:
                _skip_value(r, f["type"], names)
            return
        if stype == "enum":
            names.setdefault(schema.get("name", ""), schema)
            r.read_long()
            return
        if stype == "fixed":
            names.setdefault(schema.get("name", ""), schema)
            r.skip(schema["size"])
            return
        if stype == "array":
            while True:
                count = r.read_long()
                if count == 0:
                    return
                if count < 0:
                    # negative count: block byte size follows — jump it
                    r.skip(r.read_long())
                    continue
                for _ in range(count):
                    _skip_value(r, schema["items"], names)
        if stype == "map":
            while True:
                count = r.read_long()
                if count == 0:
                    return
                if count < 0:
                    r.skip(r.read_long())
                    continue
                for _ in range(count):
                    r.skip(r.read_long())  # key
                    _skip_value(r, schema["values"], names)
        _skip_value(r, stype, names)
        return
    if schema == "null":
        return
    if schema == "boolean":
        r.skip(1)
        return
    if schema in ("int", "long"):
        r.read_long()
        return
    if schema == "float":
        r.skip(4)
        return
    if schema == "double":
        r.skip(8)
        return
    if schema in ("bytes", "string"):
        r.skip(r.read_long())
        return
    raise AvroDecodeError("Unsupported Avro schema: %r" % (schema,))


def _decode_value(
    r: _Reader,
    schema: Any,
    names: Dict[str, Any],
    fltr: Any = None,
    parent_included: bool = True,
) -> Any:
    schema = _resolve_named(schema, names)
    if isinstance(schema, list):  # union
        idx = r.read_long()
        if not 0 <= idx < len(schema):
            raise AvroDecodeError("Union branch index %d out of range" % idx)
        return _decode_value(r, schema[idx], names, fltr, parent_included)
    if isinstance(schema, dict):
        stype = schema["type"]
        logical = schema.get("logicalType")
        if logical is not None:
            # logical types decode to Arrow-ready representations with
            # the SAME semantics spark-avro applies (so the fallback and
            # connector paths agree): date → epoch days, timestamps →
            # epoch µs, decimal → two's-complement unscaled → Decimal
            if logical == "date" and stype == "int":
                return r.read_long()
            if logical == "timestamp-micros" and stype == "long":
                return r.read_long()
            if logical == "timestamp-millis" and stype == "long":
                return r.read_long() * 1000
            if logical == "decimal" and stype in ("bytes", "fixed"):
                import decimal as _dec

                raw = (
                    r.read_bytes()
                    if stype == "bytes"
                    else r.read(schema["size"])
                )
                unscaled = int.from_bytes(raw, "big", signed=True)
                return _dec.Decimal(unscaled).scaleb(-schema.get("scale", 0))
            # unknown/unsupported logical annotations fall through to
            # the underlying type (spark-avro behavior)
        if stype == "record":
            if "name" in schema:
                names[schema["name"]] = schema
            if fltr is None:
                return {
                    f["name"]: _decode_value(r, f["type"], names)
                    for f in schema["fields"]
                }
            included = fltr.include.explicit or (
                parent_included and not fltr.exclude.explicit
            )
            out = {}
            for f in schema["fields"]:
                child = fltr.child(f["name"])
                if _keeps_avro(f["type"], child, included, names):
                    out[f["name"]] = _decode_value(r, f["type"], names, child, included)
                else:
                    _skip_value(r, f["type"], names)
            return out
        if stype == "enum":
            names.setdefault(schema.get("name", ""), schema)
            idx = r.read_long()
            if not 0 <= idx < len(schema["symbols"]):
                raise AvroDecodeError("Enum index %d out of range" % idx)
            return schema["symbols"][idx]
        if stype == "fixed":
            names.setdefault(schema.get("name", ""), schema)
            return r.read(schema["size"])
        if stype == "array":
            out = []
            while True:
                count = r.read_long()
                if count == 0:
                    break
                if count < 0:
                    r.read_long()  # block byte size; unused
                    count = -count
                for _ in range(count):
                    out.append(
                        _decode_value(r, schema["items"], names, fltr, parent_included)
                    )
            return out
        if stype == "map":
            out = {}
            while True:
                count = r.read_long()
                if count == 0:
                    break
                if count < 0:
                    r.read_long()
                    count = -count
                for _ in range(count):
                    key = r.read_utf8()
                    out[key] = _decode_value(r, schema["values"], names)
            return out
        return _decode_value(r, stype, names, fltr, parent_included)
    if schema == "null":
        return None
    if schema == "boolean":
        return r.read(1) != b"\x00"
    if schema in ("int", "long"):
        return r.read_long()
    if schema == "float":
        return struct.unpack("<f", r.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", r.read(8))[0]
    if schema == "bytes":
        return r.read_bytes()
    if schema == "string":
        return r.read_utf8()
    raise AvroDecodeError("Unsupported Avro schema: %r" % (schema,))


# -- schema resolution (reader vs writer) -----------------------------------
#
# Multi-file Avro corpora evolve: files written under an old schema must
# decode under the evolved reader schema and vice versa. These are the
# Avro-spec resolution rules (spec "Schema Resolution" section), the
# pure-Python twin of the reference's reader-vs-writer resolution
# (reference cpp/src/avro_direct.cpp:107-166): records match fields BY
# NAME (writer-only fields are wire-skipped, reader-only fields fill
# from their defaults), numeric promotions widen (int→long→float→double,
# float→double), string↔bytes interconvert, enums fall back to the
# reader's enum default for unknown symbols, unions resolve the written
# branch against the first matching reader branch.

# (writer type, reader type) pairs the spec allows beyond identity
_PROMOTABLE = {
    ("int", "long"),
    ("int", "float"),
    ("int", "double"),
    ("long", "float"),
    ("long", "double"),
    ("float", "double"),
    ("string", "bytes"),
    ("bytes", "string"),
}


def _type_name(schema: Any) -> Any:
    """The schema's type tag: primitive name, complex kind, or list for
    unions (after named-reference resolution by the caller)."""
    if isinstance(schema, dict):
        return schema["type"]
    return schema


def _default_value(schema: Any, default: Any, names: Dict[str, Any]) -> Any:
    """Convert a JSON default from the reader schema into the decoded
    representation (spec: bytes/fixed defaults are strings of latin-1
    codepoints; a union's default conforms to its FIRST branch)."""
    schema = _resolve_named(schema, names)
    if isinstance(schema, list):
        return _default_value(schema[0], default, names)
    if isinstance(schema, dict):
        stype = schema["type"]
        if stype == "record":
            if "name" in schema:
                names[schema["name"]] = schema
            out = {}
            for f in schema["fields"]:
                if default is not None and f["name"] in default:
                    out[f["name"]] = _default_value(f["type"], default[f["name"]], names)
                elif "default" in f:
                    out[f["name"]] = _default_value(f["type"], f["default"], names)
                else:
                    raise AvroDecodeError(
                        "No default for record field %s" % f["name"]
                    )
            return out
        if stype == "array":
            return [_default_value(schema["items"], d, names) for d in (default or [])]
        if stype == "map":
            return {
                k: _default_value(schema["values"], v, names)
                for k, v in (default or {}).items()
            }
        if stype == "fixed":
            return default.encode("latin-1") if isinstance(default, str) else default
        if stype == "enum":
            return default
        return _default_value(stype, default, names)
    if schema == "null":
        return None
    if schema in ("float", "double"):
        return float(default)
    if schema == "bytes":
        return default.encode("latin-1") if isinstance(default, str) else default
    return default


def _branch_matches(w: Any, cand: Any, w_names: Dict[str, Any], r_names: Dict[str, Any]) -> bool:
    w = _resolve_named(w, w_names)
    cand = _resolve_named(cand, r_names)
    wt, ct = _type_name(w), _type_name(cand)
    if isinstance(wt, list) or isinstance(ct, list):
        return False
    return wt == ct or (wt, ct) in _PROMOTABLE


def _pick_branch(w: Any, rd_union: list, w_names: Dict[str, Any], r_names: Dict[str, Any]) -> Any:
    """First reader-union branch the written value resolves against
    (spec: 'the first schema in the reader's union that matches')."""
    for cand in rd_union:
        if _branch_matches(w, cand, w_names, r_names):
            return cand
    raise AvroDecodeError(
        "No reader union branch matches writer schema %r" % (_type_name(w),)
    )


def _decode_resolved(
    r: _Reader,
    w: Any,
    rd: Any,
    w_names: Dict[str, Any],
    r_names: Dict[str, Any],
    fltr: Any = None,
    parent_included: bool = True,
) -> Any:
    """Decode one value laid out per the WRITER schema, producing the
    READER schema's representation."""
    w = _resolve_named(w, w_names)
    rd = _resolve_named(rd, r_names)
    if isinstance(w, list):  # writer union: index picks the written branch
        idx = r.read_long()
        if not 0 <= idx < len(w):
            raise AvroDecodeError("Union branch index %d out of range" % idx)
        return _decode_resolved(r, w[idx], rd, w_names, r_names, fltr, parent_included)
    if isinstance(rd, list):  # writer non-union vs reader union
        branch = _pick_branch(w, rd, w_names, r_names)
        return _decode_resolved(r, w, branch, w_names, r_names, fltr, parent_included)

    wt, rt = _type_name(w), _type_name(rd)
    if wt == "record" and rt == "record":
        if isinstance(w, dict) and "name" in w:
            w_names[w["name"]] = w
        if isinstance(rd, dict) and "name" in rd:
            r_names[rd["name"]] = rd
        r_by_name = {f["name"]: f for f in rd["fields"]}
        if fltr is None:
            included = True
        else:
            included = fltr.include.explicit or (
                parent_included and not fltr.exclude.explicit
            )
        out: Dict[str, Any] = {}
        present = set()
        for wf in w["fields"]:
            rf = r_by_name.get(wf["name"])
            if rf is None:  # writer-only field: wire-skip
                _skip_value(r, wf["type"], w_names)
                continue
            present.add(wf["name"])
            child = fltr.child(rf["name"]) if fltr is not None else None
            if fltr is not None and not _keeps_avro(rf["type"], child, included, r_names):
                _skip_value(r, wf["type"], w_names)
                continue
            out[rf["name"]] = _decode_resolved(
                r, wf["type"], rf["type"], w_names, r_names, child, included
            )
        # reader-only fields: default-fill (error if the schema has none)
        for rf in rd["fields"]:
            if rf["name"] in present:
                continue
            child = fltr.child(rf["name"]) if fltr is not None else None
            if fltr is not None and not _keeps_avro(rf["type"], child, included, r_names):
                continue
            if "default" not in rf:
                raise AvroDecodeError(
                    "Field %s missing in writer schema and has no default"
                    % rf["name"]
                )
            out[rf["name"]] = _default_value(rf["type"], rf["default"], r_names)
        # emit in reader field order (dict order feeds the Arrow arrays)
        return {
            f["name"]: out[f["name"]] for f in rd["fields"] if f["name"] in out
        }
    if wt == "enum" and rt == "enum":
        idx = r.read_long()
        if not 0 <= idx < len(w["symbols"]):
            raise AvroDecodeError("Enum index %d out of range" % idx)
        sym = w["symbols"][idx]
        if sym in rd["symbols"]:
            return sym
        if "default" in rd:
            return rd["default"]
        raise AvroDecodeError(
            "Writer enum symbol %s not in reader enum and no default" % sym
        )
    if wt == "fixed" and rt == "fixed":
        if w["size"] != rd["size"]:
            raise AvroDecodeError(
                "Fixed size mismatch: writer %d vs reader %d"
                % (w["size"], rd["size"])
            )
        return r.read(rd["size"])
    if wt == "array" and rt == "array":
        out_l: List[Any] = []
        while True:
            count = r.read_long()
            if count == 0:
                return out_l
            if count < 0:
                r.read_long()
                count = -count
            for _ in range(count):
                out_l.append(
                    _decode_resolved(
                        r, w["items"], rd["items"], w_names, r_names, fltr, parent_included
                    )
                )
    if wt == "map" and rt == "map":
        out_m: Dict[str, Any] = {}
        while True:
            count = r.read_long()
            if count == 0:
                return out_m
            if count < 0:
                r.read_long()
                count = -count
            for _ in range(count):
                key = r.read_utf8()
                out_m[key] = _decode_resolved(
                    r, w["values"], rd["values"], w_names, r_names
                )
    if wt == rt:
        # identical underlying type — reader's logical annotation (if any)
        # drives the representation
        return _decode_value(r, rd, r_names)
    # numeric / string-bytes promotions (resolution acts on raw types;
    # the reader's logical annotation applies AFTER, spec order)
    def _logicalize(val):
        if isinstance(rd, dict):
            logical = rd.get("logicalType")
            if logical == "timestamp-millis":
                return val * 1000
            if logical == "decimal":
                raise AvroDecodeError(
                    "Cannot promote writer %r into a decimal reader type" % (wt,)
                )
        return val

    if wt == "int" and rt == "long":
        return _logicalize(r.read_long())
    if wt in ("int", "long") and rt in ("float", "double"):
        return _logicalize(float(r.read_long()))
    if wt == "float" and rt == "double":
        return _logicalize(struct.unpack("<f", r.read(4))[0])
    if wt == "string" and rt == "bytes":
        return _logicalize(r.read_bytes())
    if wt == "bytes" and rt == "string":
        return _logicalize(r.read_utf8())
    raise AvroDecodeError(
        "Cannot resolve writer schema %r against reader schema %r" % (wt, rt)
    )


def decode_block_resolved(
    payload: bytes,
    n: int,
    codec: str,
    writer_schema: Any,
    reader_schema: Any,
    fltr: Any = None,
    implicit_root: bool = True,
) -> List[Any]:
    """Executor-side kernel for a block written under an evolved schema."""
    payload = decompress_block(payload, codec)
    block = _Reader(payload)
    w_names: Dict[str, Any] = {}
    r_names: Dict[str, Any] = {}
    return [
        _decode_resolved(
            block,
            writer_schema,
            reader_schema,
            w_names,
            r_names,
            fltr,
            implicit_root,
        )
        for _ in range(n)
    ]


def _nullable(schema: Any) -> Any:
    if isinstance(schema, list):
        return schema if "null" in schema else ["null"] + schema
    return ["null", schema]


def merge_avro_schemas(a: Any, b: Any, path: str = "root") -> Any:
    """Union-merge two file schemas into one reader schema every file
    resolves against (the multi-file analogue of Spark's parquet
    ``mergeSchema``): records take the union of fields (one-side-only
    fields keep their default, or become nullable-with-null-default so
    old files still decode), numerics widen along the promotion lattice,
    string/bytes keep the first file's flavor (mutually promotable)."""
    if isinstance(a, list) or isinstance(b, list):

        def inner(s: Any) -> Any:
            if not isinstance(s, list):
                return s
            non_null = [x for x in s if x != "null"]
            if len(non_null) != 1:
                raise AvroDecodeError(
                    "General (non-nullable) unions are not supported at %s" % path
                )
            return non_null[0]

        return ["null", merge_avro_schemas(inner(a), inner(b), path)]
    ta, tb = _type_name(a), _type_name(b)
    if ta == "record" and tb == "record":
        b_by = {f["name"]: f for f in b["fields"]}
        a_names = {f["name"] for f in a["fields"]}
        fields: List[Dict[str, Any]] = []

        def solo(f: Dict[str, Any]) -> Dict[str, Any]:
            # present in only one file: must default-fill for the others
            if "default" in f:
                return dict(f)
            return {"name": f["name"], "type": _nullable(f["type"]), "default": None}

        for fa in a["fields"]:
            fb = b_by.get(fa["name"])
            if fb is None:
                fields.append(solo(fa))
                continue
            merged_t = merge_avro_schemas(
                fa["type"], fb["type"], "%s.%s" % (path, fa["name"])
            )
            f: Dict[str, Any] = {"name": fa["name"], "type": merged_t}
            src = fa if "default" in fa else (fb if "default" in fb else None)
            if src is not None:
                d = src["default"]
                if isinstance(merged_t, list) and d is not None:
                    # spec: a union default conforms to the FIRST branch.
                    # The merge built a null-first union; reorder so the
                    # value branch leads and the non-null default stays
                    # both valid Avro and the value actually filled when
                    # a later file lacks the field (not a silent None)
                    f["type"] = [x for x in merged_t if x != "null"] + ["null"]
                f["default"] = d
            elif isinstance(merged_t, list) and (
                isinstance(fa["type"], list) or isinstance(fb["type"], list)
            ):
                # became nullable through the merge: null default keeps
                # every file decodable even under field reordering
                f["default"] = None
            fields.append(f)
        for fb in b["fields"]:
            if fb["name"] not in a_names:
                fields.append(solo(fb))
        out = {"type": "record", "name": a.get("name", "merged"), "fields": fields}
        return out
    if ta == "enum" and tb == "enum":
        extra = [s for s in b["symbols"] if s not in a["symbols"]]
        out = dict(a)
        out["symbols"] = list(a["symbols"]) + extra
        return out
    if ta == "fixed" and tb == "fixed":
        if a["size"] != b["size"]:
            raise AvroDecodeError(
                "Cannot merge fixed sizes %d and %d at %s"
                % (a["size"], b["size"], path)
            )
        return a
    if ta == "array" and tb == "array":
        return {
            "type": "array",
            "items": merge_avro_schemas(a["items"], b["items"], path + "[]"),
        }
    if ta == "map" and tb == "map":
        return {
            "type": "map",
            "values": merge_avro_schemas(a["values"], b["values"], path + "{}"),
        }
    if a == b:
        return a
    _NUM = ("int", "long", "float", "double")
    if ta in _NUM and tb in _NUM and isinstance(a, str) and isinstance(b, str):
        return _NUM[max(_NUM.index(ta), _NUM.index(tb))]
    if {ta, tb} == {"string", "bytes"} and isinstance(a, str) and isinstance(b, str):
        return ta  # mutually promotable; first file wins
    if ta == tb:
        # same underlying type, differing annotations (logical types) —
        # no safe common representation
        raise AvroDecodeError(
            "Cannot merge differing schema annotations at %s: %r vs %r"
            % (path, a, b)
        )
    raise AvroDecodeError(
        "Cannot merge Avro schemas at %s: %r vs %r" % (path, ta, tb)
    )


def scan_header_stream(reader) -> Tuple[Any, str, bytes, int]:
    """Parse container magic + metadata map + sync marker over a
    ChunkedReader, in bounded chunks; block payloads are not touched.
    Returns (schema JSON, codec, sync, first-block offset)."""
    if reader.read(4) != MAGIC:
        raise AvroDecodeError("Not an Avro container file (bad magic)")
    meta: Dict[str, bytes] = {}
    while True:
        count = reader.read_zigzag()
        if count == 0:
            break
        if count < 0:
            reader.read_zigzag()  # block byte size; unused
            count = -count
        for _ in range(count):
            klen = reader.read_zigzag()
            key = reader.read(klen).decode("utf-8")
            vlen = reader.read_zigzag()
            meta[key] = reader.read(vlen)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "snappy"):
        raise AvroDecodeError("Unsupported Avro codec: %s" % codec)
    sync = reader.read(16)
    return schema, codec, sync, reader.tell()


def scan_blocks_stream(reader, sync: bytes) -> List[Tuple[int, int, int]]:
    """Walk block headers collecting (payload offset, payload size,
    record count) — the metadata pass. Hops block headers, seeking past
    payloads (only the count/size varints and the 16-byte sync marker
    are ever read). Driver memory is O(n_blocks) header tuples plus one
    read buffer — never O(file)."""
    blocks: List[Tuple[int, int, int]] = []
    while not reader.eof():
        n, size = _block_header(reader)
        blocks.append((reader.tell(), size, n))
        reader.skip(size)
        if reader.read(16) != sync:
            raise AvroDecodeError("Sync marker mismatch")
    return blocks


def read_blocks(reader, sync: bytes, end: int) -> Iterator[Tuple[int, bytes]]:
    """Executor-side walk of one split: yield ``(record count, payload)``
    for every block whose header starts in ``[reader.tell(), end)``,
    checking each block's sync marker. Memory is one block at a time."""
    while reader.tell() < end:
        n, size = _block_header(reader)
        payload = reader.read(size)
        if reader.read(16) != sync:
            raise AvroDecodeError("Sync marker mismatch")
        yield n, payload


def _block_header(reader) -> Tuple[int, int]:
    n = reader.read_zigzag()
    size = reader.read_zigzag()
    if size < 0:
        raise AvroDecodeError("Negative Avro block size")
    return n, size


def decompress_block(payload: bytes, codec: str) -> bytes:
    if codec == "deflate":
        return zlib.decompress(payload, -15)
    if codec == "snappy":
        from bamboo_spark.sources._snappy import snappy_uncompress

        if len(payload) < 4:
            raise AvroDecodeError("Snappy block too short for CRC suffix")
        # Avro snappy framing: raw snappy block + big-endian CRC32 of the
        # UNCOMPRESSED data (Avro spec, "snappy" codec)
        crc = int.from_bytes(payload[-4:], "big")
        out = snappy_uncompress(payload[:-4])
        if zlib.crc32(out) & 0xFFFFFFFF != crc:
            raise AvroDecodeError("Snappy block CRC mismatch")
        return out
    return payload


def decode_block(
    payload: bytes,
    n: int,
    codec: str,
    schema: Any,
    fltr: Any = None,
    implicit_root: bool = True,
) -> List[Any]:
    """Decode one block's records — the executor-side kernel."""
    payload = decompress_block(payload, codec)
    block = _Reader(payload)
    names: Dict[str, Any] = {}
    if fltr is None:
        return [_decode_value(block, schema, names) for _ in range(n)]
    return [
        _decode_value(block, schema, names, fltr, implicit_root) for _ in range(n)
    ]


# -- schema mapping ---------------------------------------------------------

_PRIMITIVES = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def avro_to_spark(schema: Any, names: Dict[str, Any] | None = None) -> T.DataType:
    """Avro schema JSON → Spark DataType (nullable union → nullable field;
    enum → string; fixed → binary; general unions unsupported, matching
    the reference's avro.hpp:56)."""
    names = names if names is not None else {}
    schema = _resolve_named(schema, names)
    if isinstance(schema, list):
        non_null = [s for s in schema if s != "null"]
        if len(non_null) != 1:
            raise AvroDecodeError("General (non-nullable) unions are not supported")
        return avro_to_spark(non_null[0], names)
    if isinstance(schema, dict):
        stype = schema["type"]
        logical = schema.get("logicalType")
        if logical is not None:
            # spark-avro's logical-type mapping
            if logical == "date" and stype == "int":
                return T.DateType()
            if logical in ("timestamp-micros", "timestamp-millis") and stype == "long":
                return T.TimestampType()
            if logical == "decimal" and stype in ("bytes", "fixed"):
                return T.DecimalType(schema.get("precision", 38), schema.get("scale", 0))
            # uuid annotates string → string; time-* fall through to the
            # underlying type (matching spark-avro)
        if stype == "record":
            if "name" in schema:
                names[schema["name"]] = schema
            return T.StructType(
                [
                    T.StructField(f["name"], avro_to_spark(f["type"], names), True)
                    for f in schema["fields"]
                ]
            )
        if stype == "enum":
            if "name" in schema:
                names.setdefault(schema["name"], schema)
            return T.StringType()
        if stype == "fixed":
            if "name" in schema:
                names.setdefault(schema["name"], schema)
            return T.BinaryType()
        if stype == "array":
            return T.ArrayType(avro_to_spark(schema["items"], names), True)
        if stype == "map":
            return T.MapType(T.StringType(), avro_to_spark(schema["values"], names), True)
        return avro_to_spark(stype, names)
    if schema in _PRIMITIVES:
        return _PRIMITIVES[schema]
    raise AvroDecodeError("Unsupported Avro schema: %r" % (schema,))


# --------------------------------------------------------------- writer
#
# Pure-Python Avro container ENCODER — the symmetric twin of the reader
# above, from the same public format description. Primary use: golden
# files, test fixtures, and round-trip verification of the decoder; a
# distributed sink would shard records and call write_container per
# partition file.


def _write_long(out: bytearray, n: int) -> None:
    z = (n << 1) ^ (n >> 63)  # zigzag (arbitrary-precision >> is arithmetic)
    z &= (1 << 64) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


def _write_bytes(out: bytearray, b: bytes) -> None:
    _write_long(out, len(b))
    out.extend(b)


def _value_matches(schema: Any, value: Any, names: Dict[str, Any]) -> bool:
    """Python-value ↔ Avro-type compatibility for union branch choice
    (the writer-side mirror of the decoder's multi-branch support)."""
    t = schema.get("type") if isinstance(schema, dict) else schema
    if t == "null":
        return value is None
    if value is None:
        return False
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, float)
    if t == "string":
        return isinstance(value, str)
    if t in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray))
    if t == "enum":
        return isinstance(value, str) and value in schema["symbols"]
    if t == "record":
        return isinstance(value, dict)
    if t == "map":
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, (list, tuple))
    return False


def encode_value(out: bytearray, schema: Any, value: Any, names: Dict[str, Any]) -> None:
    """Encode one value against ``schema`` (writer side of
    ``_decode_value`` — same type model, same names registry)."""
    import struct

    schema = _resolve_named(schema, names)
    if isinstance(schema, list):  # union: first TYPE-matching branch
        for i, branch in enumerate(schema):
            b = _resolve_named(branch, names)
            if _value_matches(b, value, names):
                _write_long(out, i)
                encode_value(out, branch, value, names)
                return
        raise AvroDecodeError("No union branch matches %r" % (value,))
    t = schema.get("type") if isinstance(schema, dict) else schema
    # register named types on first sight so later by-name references
    # resolve (the decoder does the same via names.setdefault)
    if isinstance(schema, dict) and schema.get("name") and t in (
        "record",
        "enum",
        "fixed",
    ):
        names.setdefault(schema["name"], schema)
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        _write_long(out, int(value))
    elif t == "float":
        out.extend(struct.pack("<f", float(value)))
    elif t == "double":
        out.extend(struct.pack("<d", float(value)))
    elif t == "string":
        _write_bytes(out, str(value).encode("utf-8"))
    elif t == "bytes":
        _write_bytes(out, bytes(value))
    elif t == "fixed":
        b = bytes(value)
        if len(b) != schema["size"]:
            raise AvroDecodeError("fixed size mismatch")
        out.extend(b)
    elif t == "enum":
        _write_long(out, schema["symbols"].index(value))
    elif t == "record":
        for f in schema["fields"]:
            encode_value(out, f["type"], value[f["name"]], names)
    elif t == "array":
        items = list(value)
        if items:
            _write_long(out, len(items))
            for it in items:
                encode_value(out, schema["items"], it, names)
        _write_long(out, 0)
    elif t == "map":
        entries = dict(value)
        if entries:
            _write_long(out, len(entries))
            for k, v in entries.items():
                _write_bytes(out, str(k).encode("utf-8"))
                encode_value(out, schema["values"], v, names)
        _write_long(out, 0)
    else:
        raise AvroDecodeError("Unsupported writer type: %r" % (t,))


def write_container(
    path: str,
    schema: Any,
    records: list,
    codec: str = "null",
    records_per_block: int = 1000,
    sync: bytes = b"bamboo-spark-sync",
) -> None:
    """Write an Avro object container file: magic, metadata map
    (avro.schema + avro.codec), 16-byte sync, then record blocks.
    Deterministic output (fixed sync marker) so golden files diff
    cleanly. Codecs: null, deflate (zlib)."""
    import json as _json
    import zlib

    if codec not in ("null", "deflate"):
        raise AvroDecodeError("Unsupported writer codec: %s" % codec)
    sync = (sync + b"\x00" * 16)[:16]
    out = bytearray()
    out.extend(MAGIC)
    meta = {
        "avro.schema": _json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode(),
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode("utf-8"))
        _write_bytes(out, v)
    _write_long(out, 0)
    out.extend(sync)
    names: Dict[str, Any] = {}
    for i in range(0, len(records), records_per_block):
        chunk = records[i : i + records_per_block]
        payload = bytearray()
        for rec in chunk:
            encode_value(payload, schema, rec, names)
        body = bytes(payload)
        if codec == "deflate":
            body = zlib.compress(body)[2:-4]  # raw deflate, per spec
        _write_long(out, len(chunk))
        _write_long(out, len(body))
        out.extend(body)
        out.extend(sync)
    with open(path, "wb") as fh:
        fh.write(bytes(out))
