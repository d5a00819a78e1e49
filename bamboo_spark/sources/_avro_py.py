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
decodable after the header). Each decode task compiles the schema once
(``compile_decoder``): the writer schema, the reader schema it resolves
against and the clusion filter become one tree of closures, so no
record pays for type dispatch, named-type lookup or keep/skip
decisions — bamboo's schema-driven pre-typing (avro_direct.cpp:81-166).
Clusion pushdown happens in that compile: excluded fields get skip
closures and are *walked but never materialized* (Avro's data-dependent
sizes force the walk, but skipped strings/bytes/subtrees allocate
nothing), mirroring the reference's reader-schema pruning
(avro_direct.cpp:107-166).

Reference behaviors matched (decoder-level): enum → symbol string,
fixed/bytes → bytes, nullable union → None/value
(reference python/bamboo_tests/avro_tests.py:145-197); general
non-nullable unions raise, as in the reference (avro.hpp:56).
"""

from __future__ import annotations

import copy
import decimal as _dec
import json
import struct
import zlib
from typing import Any, Callable, Dict, Iterator, List, Optional, Tuple

from pyspark.sql import types as T

MAGIC = b"Obj\x01"


class AvroDecodeError(ValueError):
    pass


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
    return wt == ct or (wt, ct) in _PROMOTIONS


# -- compiled decoder ---------------------------------------------------------
#
# The schema work happens once: ``compile_decoder`` walks the (writer,
# reader, clusion filter) triple a single time and returns a tree of
# closures, one per schema node, each ``(buf, pos) -> (value, pos)``
# (skippers ``(buf, pos) -> pos``). Named-type lookup, the keep/skip
# decision of every field (``_keeps_avro``), union branch choice, enum
# symbol mapping, default values and promotions are all settled in that
# walk, so decoding a record runs no schema dispatch at all. Errors that
# only some data reaches (an unmatched writer union branch, an unknown
# enum symbol, an unresolvable promotion, an unknown type name) compile
# to closures that raise when a value reaches them. The closures index
# ``buf`` directly: a read past the end surfaces as IndexError or
# struct.error, which the block loop turns into AvroDecodeError.

_UNPACK_DOUBLE = struct.Struct("<d").unpack_from
_UNPACK_FLOAT = struct.Struct("<f").unpack_from
_TRUNCATED = "Unexpected end of Avro data"


def _long(buf: bytes, pos: int) -> Tuple[int, int]:
    """Zigzag varint at ``pos`` → (value, next position)."""
    b = buf[pos]
    if b < 0x80:
        return (b >> 1) ^ -(b & 1), pos + 1
    acc = b & 0x7F
    shift = 7
    while True:
        pos += 1
        b = buf[pos]
        acc |= (b & 0x7F) << shift
        if b < 0x80:
            return (acc >> 1) ^ -(acc & 1), pos + 1
        shift += 7
        if shift > 70:
            raise AvroDecodeError("Malformed varint in Avro data")


def _span(buf: bytes, pos: int) -> Tuple[int, int]:
    """A length-prefixed value's (start, end), checked against ``buf``."""
    b = buf[pos]
    if b < 0x80:
        n = (b >> 1) ^ -(b & 1)
        pos += 1
    else:
        n, pos = _long(buf, pos)
    end = pos + n
    if n < 0 or end > len(buf):
        raise AvroDecodeError(_TRUNCATED)
    return pos, end


def _null(buf, pos):
    return None, pos


def _boolean(buf, pos):
    return buf[pos] != 0, pos + 1


def _float(buf, pos):
    return _UNPACK_FLOAT(buf, pos)[0], pos + 4


def _double(buf, pos):
    return _UNPACK_DOUBLE(buf, pos)[0], pos + 8


def _bytes(buf, pos):
    start, end = _span(buf, pos)
    return buf[start:end], end


def _string(buf, pos):
    start, end = _span(buf, pos)
    return buf[start:end].decode("utf-8"), end


def _long_as_float(buf, pos):
    v, pos = _long(buf, pos)
    return float(v), pos


def _times_1000(read):
    """timestamp-millis → the epoch microseconds a Spark timestamp holds."""

    def millis(buf, pos):
        v, pos = read(buf, pos)
        return v * 1000, pos

    return millis


_READERS = {
    "null": _null,
    "boolean": _boolean,
    "int": _long,
    "long": _long,
    "float": _float,
    "double": _double,
    "bytes": _bytes,
    "string": _string,
}
# writer → reader promotions the spec allows (identity excluded)
_PROMOTIONS = {
    ("int", "long"): _long,
    ("int", "float"): _long_as_float,
    ("int", "double"): _long_as_float,
    ("long", "float"): _long_as_float,
    ("long", "double"): _long_as_float,
    ("float", "double"): _float,
    ("string", "bytes"): _bytes,
    ("bytes", "string"): _string,
}


def _fail(message: str):
    """A node no value can decode through: raises when one reaches it."""

    def fail(buf, pos):
        raise AvroDecodeError(message)

    return fail


def _then_fail(read, message: str):
    """Read the value, then refuse it (a promotion the reader's logical
    type cannot take)."""

    def fail(buf, pos):
        read(buf, pos)
        raise AvroDecodeError(message)

    return fail


def _fixed(size: int):
    def fixed(buf, pos):
        end = pos + size
        if end > len(buf):
            raise AvroDecodeError(_TRUNCATED)
        return buf[pos:end], end

    return fixed


# scaleb rounds to its context's precision: the default 28 digits would
# cut a decimal(38, s) value
_EXACT = _dec.Context(prec=_dec.MAX_PREC)


def _decimal(size: Optional[int], scale: int):
    raw = _bytes if size is None else _fixed(size)

    def decimal(buf, pos):
        b, pos = raw(buf, pos)
        unscaled = _dec.Decimal(int.from_bytes(b, "big", signed=True))
        return unscaled.scaleb(-scale, _EXACT), pos

    return decimal


def _enum(table: list, symbols: list):
    """Index → ``table`` entry; ``None`` entries are writer symbols the
    reader neither knows nor defaults."""
    n = len(table)

    def enum(buf, pos):
        idx, pos = _long(buf, pos)
        if not 0 <= idx < n:
            raise AvroDecodeError("Enum index %d out of range" % idx)
        sym = table[idx]
        if sym is None:
            raise AvroDecodeError(
                "Writer enum symbol %s not in reader enum and no default"
                % symbols[idx]
            )
        return sym, pos

    return enum


def _union(branches: list):
    n = len(branches)

    def union(buf, pos):
        b = buf[pos]
        if b < 0x80:
            idx = (b >> 1) ^ -(b & 1)
            pos += 1
        else:
            idx, pos = _long(buf, pos)
        if 0 <= idx < n:
            return branches[idx](buf, pos)
        raise AvroDecodeError("Union branch index %d out of range" % idx)

    return union


def _array(item):
    def array(buf, pos):
        out = []
        append = out.append
        while True:
            b = buf[pos]
            if b < 0x80:
                count = (b >> 1) ^ -(b & 1)
                pos += 1
            else:
                count, pos = _long(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:
                pos = _long(buf, pos)[1]  # block byte size; unused
                count = -count
            for _ in range(count):
                v, pos = item(buf, pos)
                append(v)

    return array


def _map(value):
    def map_(buf, pos):
        out = {}
        while True:
            count, pos = _long(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:
                pos = _long(buf, pos)[1]
                count = -count
            for _ in range(count):
                key, pos = _string(buf, pos)
                out[key], pos = value(buf, pos)

    return map_


# the leaf decoders a record decodes inline, without a call
_INLINE = {_long: 1, _string: 2, _double: 3}


def _record(steps: list, fills: list, order: Optional[list]):
    """``steps``: (name, decoder) per written field, name None for a
    skipper; ``fills``: (name, default factory) per reader-only field;
    ``order``: the reader's field order when the emitted order differs."""
    steps = tuple(
        (name, -1 if name is None else _INLINE.get(dec, 0), dec)
        for name, dec in steps
    )

    def record(buf, pos):
        out = {}
        for name, kind, dec in steps:
            if kind == 2:  # string
                b = buf[pos]
                if b < 0x80:
                    n = (b >> 1) ^ -(b & 1)
                    pos += 1
                else:
                    n, pos = _long(buf, pos)
                end = pos + n
                if n < 0 or end > len(buf):
                    raise AvroDecodeError(_TRUNCATED)
                out[name] = buf[pos:end].decode("utf-8")
                pos = end
            elif kind == 1:  # int/long
                b = buf[pos]
                if b < 0x80:
                    out[name] = (b >> 1) ^ -(b & 1)
                    pos += 1
                else:
                    out[name], pos = _long(buf, pos)
            elif kind == 3:  # double
                out[name] = _UNPACK_DOUBLE(buf, pos)[0]
                pos += 8
            elif kind == 0:
                out[name], pos = dec(buf, pos)
            else:
                pos = dec(buf, pos)
        for name, fill in fills:
            out[name] = fill()
        if order is not None:
            out = {name: out[name] for name in order}
        return out, pos

    return record


def _fill(value: Any):
    if isinstance(value, (list, dict)):
        return lambda: copy.deepcopy(value)
    return lambda: value


def _fill_fail(error: Exception):
    def fail():
        raise error

    return fail


# skippers: advance past one value, materializing nothing


def _skip_long(buf, pos):
    return _long(buf, pos)[1]


def _skip_span(buf, pos):
    return _span(buf, pos)[1]


def _skip_fixed(size: int):
    def skip(buf, pos):
        end = pos + size
        if end > len(buf):
            raise AvroDecodeError(_TRUNCATED)
        return end

    return skip


_SKIPPERS = {
    "null": lambda buf, pos: pos,
    "boolean": _skip_fixed(1),
    "int": _skip_long,
    "long": _skip_long,
    "float": _skip_fixed(4),
    "double": _skip_fixed(8),
    "bytes": _skip_span,
    "string": _skip_span,
}


def _skip_record(skips: list):
    skips = tuple(skips)

    def skip(buf, pos):
        for s in skips:
            pos = s(buf, pos)
        return pos

    return skip


def _skip_blocks(item, keyed: bool):
    """Array (``keyed`` False) or map items; a negative count's block
    byte size lets the whole block be jumped."""

    def skip(buf, pos):
        while True:
            count, pos = _long(buf, pos)
            if count == 0:
                return pos
            if count < 0:
                pos = _skip_span(buf, pos)
                continue
            for _ in range(count):
                if keyed:
                    pos = _skip_span(buf, pos)
                pos = item(buf, pos)

    return skip


def _later(cell: list):
    """A reference to a record whose closure is still being built (a
    recursive schema): look the closure up when a value arrives."""
    return lambda buf, pos: cell[0](buf, pos)


class _Compiler:
    """One schema walk that builds the closures of one (writer, reader,
    filter) triple. Named types register in schema order, writer and
    reader names apart; each record is built once per (writer, reader,
    filter node) and shared, which also closes recursive schemas."""

    def __init__(self) -> None:
        self.w_names: Dict[str, Any] = {}
        self.r_names: Dict[str, Any] = {}
        self.built: Dict[Any, list] = {}

    def decoder(self, w: Any, r: Any, fltr: Any, included: bool):
        """Closure decoding a value written as ``w`` into the reader
        schema ``r`` (``r`` None: read as written)."""
        w = _resolve_named(w, self.w_names)
        if r is None:
            return self.written(w, fltr, included, self.w_names)
        r = _resolve_named(r, self.r_names)
        if isinstance(w, list):  # writer union: the index picks the branch
            return _union([self.decoder(b, r, fltr, included) for b in w])
        if isinstance(r, list):  # first reader branch the written type matches
            for cand in r:
                if _branch_matches(w, cand, self.w_names, self.r_names):
                    return self.decoder(w, cand, fltr, included)
            return _fail(
                "No reader union branch matches writer schema %r" % (_type_name(w),)
            )
        wt, rt = _type_name(w), _type_name(r)
        if wt == "record" and rt == "record":
            return self.record(w, r, fltr, included)
        if wt == "enum" and rt == "enum":
            self.register(w, self.w_names)
            self.register(r, self.r_names)
            default = r.get("default")
            table = [
                s if s in r["symbols"] else default for s in w["symbols"]
            ]
            return _enum(table, w["symbols"])
        if wt == "fixed" and rt == "fixed":
            self.register(w, self.w_names)
            self.register(r, self.r_names)
            if w["size"] != r["size"]:
                return _fail(
                    "Fixed size mismatch: writer %d vs reader %d"
                    % (w["size"], r["size"])
                )
            return _fixed(r["size"])
        if wt == "array" and rt == "array":
            return _array(self.decoder(w["items"], r["items"], fltr, included))
        if wt == "map" and rt == "map":
            return _map(self.decoder(w["values"], r["values"], None, True))
        if wt == rt:
            # same underlying type: the reader's logical annotation (if
            # any) drives the representation
            return self.written(r, None, True, self.r_names)
        # promotions act on raw types; the reader's logical annotation
        # applies after (spec order)
        read = (
            _PROMOTIONS.get((wt, rt))
            if isinstance(wt, str) and isinstance(rt, str)
            else None
        )
        if read is None:
            return _fail(
                "Cannot resolve writer schema %r against reader schema %r" % (wt, rt)
            )
        logical = r.get("logicalType") if isinstance(r, dict) else None
        if logical == "timestamp-millis":
            return _times_1000(read)
        if logical == "decimal":
            return _then_fail(
                read, "Cannot promote writer %r into a decimal reader type" % (wt,)
            )
        return read

    @staticmethod
    def register(schema: Any, names: Dict[str, Any]) -> None:
        if isinstance(schema, dict):
            names.setdefault(schema.get("name", ""), schema)

    def written(self, schema: Any, fltr: Any, included: bool, names: Dict[str, Any]):
        """Closure decoding ``schema`` as written (names: its registry)."""
        schema = _resolve_named(schema, names)
        if isinstance(schema, list):
            return _union([self.written(b, fltr, included, names) for b in schema])
        if isinstance(schema, dict):
            stype = schema["type"]
            logical = schema.get("logicalType")
            # logical types decode to Arrow-ready representations with the
            # SAME semantics spark-avro applies (so the fallback and
            # connector paths agree): date → epoch days, timestamps →
            # epoch µs, decimal → two's-complement unscaled → Decimal.
            # Unknown/unsupported annotations fall through to the
            # underlying type (spark-avro behavior).
            if logical == "date" and stype == "int":
                return _long
            if logical == "timestamp-micros" and stype == "long":
                return _long
            if logical == "timestamp-millis" and stype == "long":
                return _times_1000(_long)
            if logical == "decimal" and stype in ("bytes", "fixed"):
                size = schema["size"] if stype == "fixed" else None
                return _decimal(size, schema.get("scale", 0))
            if stype == "record":
                return self.record(schema, None, fltr, included, names)
            if stype == "enum":
                self.register(schema, names)
                symbols = list(schema["symbols"])
                return _enum(symbols, symbols)
            if stype == "fixed":
                self.register(schema, names)
                return _fixed(schema["size"])
            if stype == "array":
                return _array(self.written(schema["items"], fltr, included, names))
            if stype == "map":
                return _map(self.written(schema["values"], None, True, names))
            return self.written(stype, fltr, included, names)
        read = _READERS.get(schema) if isinstance(schema, str) else None
        return read or _fail("Unsupported Avro schema: %r" % (schema,))

    def record(self, w, r, fltr, included, names=None):
        """A record read as written (``r`` None) or resolved by field
        name against the reader record ``r``."""
        key = (
            id(w),
            id(r),
            None if fltr is None else (id(fltr.include), id(fltr.exclude)),
            included,
        )
        cell = self.built.get(key)
        if cell is not None:
            return cell[0] or _later(cell)
        cell = self.built[key] = [None]
        if r is None:
            if "name" in w:
                names[w["name"]] = w
            fields, k_names = w["fields"], names
        else:
            if "name" in w:
                self.w_names[w["name"]] = w
            if "name" in r:
                self.r_names[r["name"]] = r
            fields, k_names = r["fields"], self.r_names
        if fltr is not None:
            included = fltr.include.explicit or (included and not fltr.exclude.explicit)

        def child(name):
            return None if fltr is None else fltr.child(name)

        def kept(f, sub):
            return fltr is None or _keeps_avro(f["type"], sub, included, k_names)

        steps, fills = [], []
        if r is None:
            for f in fields:
                sub = child(f["name"])
                if kept(f, sub):
                    dec = self.written(f["type"], sub, included, names)
                    steps.append((f["name"], dec))
                else:
                    steps.append((None, self.skipper(f["type"], names)))
            order = None
        else:
            by_name = {f["name"]: f for f in fields}
            for wf in w["fields"]:
                rf = by_name.pop(wf["name"], None)
                sub = None if rf is None else child(rf["name"])
                if rf is None or not kept(rf, sub):  # wire-skip
                    steps.append((None, self.skipper(wf["type"], self.w_names)))
                else:
                    dec = self.decoder(wf["type"], rf["type"], sub, included)
                    steps.append((rf["name"], dec))
            # reader-only fields: default-fill (error if the schema has none)
            for rf in fields:
                if rf["name"] not in by_name or not kept(rf, child(rf["name"])):
                    continue
                if "default" not in rf:
                    fill = _fill_fail(
                        AvroDecodeError(
                            "Field %s missing in writer schema and has no default"
                            % rf["name"]
                        )
                    )
                else:
                    try:
                        fill = _fill(
                            _default_value(rf["type"], rf["default"], self.r_names)
                        )
                    except Exception as e:  # noqa: BLE001 — raised per record
                        fill = _fill_fail(e)
                fills.append((rf["name"], fill))
            # emit in reader field order (dict order feeds the Arrow arrays)
            emitted = [n for n, _ in steps if n is not None] + [n for n, _ in fills]
            order = [f["name"] for f in fields if f["name"] in set(emitted)]
            if order == emitted:
                order = None
        cell[0] = _record(steps, fills, order)
        return cell[0]

    def skipper(self, schema: Any, names: Dict[str, Any]):
        """Closure advancing past one value of ``schema`` — the
        decode-time half of clusion pushdown (the walk is forced by
        Avro's data-dependent sizes; allocation is not)."""
        schema = _resolve_named(schema, names)
        if isinstance(schema, list):
            return _union([self.skipper(b, names) for b in schema])
        if isinstance(schema, dict):
            stype = schema["type"]
            if stype == "record":
                key = ("skip", id(schema))
                cell = self.built.get(key)
                if cell is not None:
                    return cell[0] or _later(cell)
                cell = self.built[key] = [None]
                if "name" in schema:
                    names[schema["name"]] = schema
                cell[0] = _skip_record(
                    [self.skipper(f["type"], names) for f in schema["fields"]]
                )
                return cell[0]
            if stype == "enum":
                self.register(schema, names)
                return _skip_long
            if stype == "fixed":
                self.register(schema, names)
                return _skip_fixed(schema["size"])
            if stype == "array":
                return _skip_blocks(self.skipper(schema["items"], names), False)
            if stype == "map":
                return _skip_blocks(self.skipper(schema["values"], names), True)
            return self.skipper(stype, names)
        skip = _SKIPPERS.get(schema) if isinstance(schema, str) else None
        return skip or _fail("Unsupported Avro schema: %r" % (schema,))


def compile_decoder(
    schema: Any,
    writer_schema: Any = None,
    fltr: Any = None,
    implicit_root: bool = True,
) -> Callable[[bytes, int], List[Any]]:
    """Compile the block decoder for records read under ``schema``:
    ``decode(payload, n)`` decodes a decompressed block's ``n`` records.
    With ``writer_schema`` the records were written under it and resolve
    against ``schema`` (Avro spec "Schema Resolution"); with ``fltr``
    fields outside the clusion are wire-skipped. Compile once per decode
    task and reuse the decoder for every block."""
    if writer_schema is None:
        root = _Compiler().decoder(schema, None, fltr, implicit_root)
    else:
        root = _Compiler().decoder(writer_schema, schema, fltr, implicit_root)

    def decode(payload: bytes, n: int) -> List[Any]:
        out = []
        append = out.append
        pos = 0
        try:
            for _ in range(n):
                v, pos = root(payload, pos)
                append(v)
        except (IndexError, struct.error):
            raise AvroDecodeError(_TRUNCATED) from None
        except UnicodeDecodeError as e:
            raise AvroDecodeError("Invalid UTF-8 in Avro string: %s" % e) from e
        return out

    return decode


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
