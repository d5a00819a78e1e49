"""Seeded input generators for the three workloads.

Everything a run feeds the program is derived here from one integer
seed, so the same seed reproduces the same bytes. The analytics corpus
is the exception by design: it always uses ``ANALYTICS_SEED`` and the
run seed only permutes query order.
"""

from __future__ import annotations

import json
import os
import random
import string
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANALYTICS_SEED = 42

# --------------------------------------------------------------- orders

ORDER_AVRO_SCHEMA = {
    "type": "record",
    "name": "Order",
    "fields": [
        {"name": "id", "type": "long"},
        {
            "name": "user",
            "type": {
                "type": "record",
                "name": "User",
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
                    "name": "Item",
                    "fields": [
                        {"name": "sku", "type": "string"},
                        {"name": "qty", "type": "int"},
                        {"name": "price", "type": "double"},
                        {"name": "tags", "type": {"type": "array", "items": "string"}},
                    ],
                },
            },
        },
        {"name": "payload", "type": "string"},
    ],
}

TAGS = ["red", "blue", "sale", "new", "bulk", "gift", "eco", "promo"]
_PAYLOAD_ALPHABET = string.ascii_letters + string.digits + " "

# flatten(include=FLATTEN_INCLUDE) output, in the column names the
# default CONCATENATE_CONFLICTS naming gives (no conflicts here)
FLATTEN_INCLUDE = ["id", "user.name", "items"]
FLAT_COLUMNS = ["id", "name", "sku", "qty", "price", "tags"]


def order_records(seed: int, n: int) -> List[dict]:
    """``n`` Order records: a nullable ``user.age``, 0-5 items each
    carrying 0-3 tags, and a 50-400 byte payload string."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        items = []
        for _ in range(rng.randint(0, 5)):
            items.append(
                {
                    "sku": "sku-%05d" % rng.randrange(20000),
                    "qty": rng.randint(1, 50),
                    "price": rng.randint(50, 99999) / 100.0,
                    "tags": [rng.choice(TAGS) for _ in range(rng.randint(0, 3))],
                }
            )
        out.append(
            {
                "id": i,
                "user": {
                    "name": "user-%d" % rng.randrange(max(n // 4, 1)),
                    "age": None if rng.random() < 0.2 else rng.randint(18, 90),
                },
                "items": items,
                "payload": "".join(
                    rng.choices(_PAYLOAD_ALPHABET, k=rng.randint(50, 400))
                ),
            }
        )
    return out


def flat_rows(records: List[dict]) -> List[tuple]:
    """Reference model of ``flatten(include=FLATTEN_INCLUDE)`` with the
    default INNER join: one row per (record, item, tag); an empty list
    drops its parent row."""
    return [
        (r["id"], r["user"]["name"], it["sku"], it["qty"], it["price"], tag)
        for r in records
        for it in r["items"]
        for tag in it["tags"]
    ]


# PBD container: magic + version, one FileDescriptorProto, root name,
# then varint-length-prefixed messages (see bamboo_spark.sources.pbd)


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


def _ld(number: int, payload: bytes) -> bytes:
    return _varint((number << 3) | 2) + _varint(len(payload)) + payload


def _field(name: str, number: int, ftype: int, label: int = 1, type_name: str = "") -> bytes:
    out = _ld(1, name.encode()) + _varint(3 << 3) + _varint(number)
    out += _varint(4 << 3) + _varint(label) + _varint(5 << 3) + _varint(ftype)
    if type_name:
        out += _ld(6, type_name.encode())
    return out


def _message(name: str, fields: List[bytes]) -> bytes:
    return _ld(1, name.encode()) + b"".join(_ld(2, f) for f in fields)


_INT64, _INT32, _DOUBLE, _STRING, _MESSAGE = 3, 5, 1, 9, 11
_OPTIONAL, _REPEATED = 1, 3


def pbd_header() -> bytes:
    """Descriptor header for the Order message (proto2)."""
    messages = [
        _message(
            "Order",
            [
                _field("id", 1, _INT64),
                _field("user", 2, _MESSAGE, type_name=".bench.User"),
                _field("items", 3, _MESSAGE, _REPEATED, ".bench.Item"),
                _field("payload", 4, _STRING),
            ],
        ),
        _message("User", [_field("name", 1, _STRING), _field("age", 2, _INT32)]),
        _message(
            "Item",
            [
                _field("sku", 1, _STRING),
                _field("qty", 2, _INT32),
                _field("price", 3, _DOUBLE),
                _field("tags", 4, _STRING, _REPEATED),
            ],
        ),
    ]
    fdp = _ld(2, b"bench") + b"".join(_ld(4, m) for m in messages)
    root = b"bench.Order"
    return (
        b"\x00\x00\x10\xbd\x01"
        + _varint(1)
        + _varint(len(fdp))
        + fdp
        + _varint(len(root))
        + root
    )


def write_orders(work: str, seed: int, n_binary: int, n_json: int):
    """Write the ingest inputs with the program's own writers; returns
    ``({format: path}, records)``. The JSON document holds the first
    ``n_json`` records."""
    from bamboo_spark.sources._avro_py import write_container
    from bamboo_spark.sources._pbd_py import parse_header, write_pbd_records

    records = order_records(seed, n_binary)
    paths = {
        "avro": os.path.join(work, "orders.avro"),
        "pbd": os.path.join(work, "orders.pbd"),
        "json": os.path.join(work, "orders.json"),
    }
    write_container(paths["avro"], ORDER_AVRO_SCHEMA, records)
    header = pbd_header()
    desc, _ = parse_header(header)
    write_pbd_records(paths["pbd"], header, desc, records)
    with open(paths["json"], "w") as fh:
        json.dump(records[:n_json], fh)
    return paths, records


# ------------------------------------------------------ analytics corpus

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write_analytics_corpus(out_dir: str, sf: float) -> Dict[str, int]:
    """TPC-H-shaped tables plus events/documents/embeddings, the schema
    the registry queries read. ``sf`` counts rows as TESTDATA.md does:
    6M lineitem, 1.5M orders, 150k customers and 1M events at sf 1, and
    50k documents and 20k embeddings, which TESTDATA.md, unlike this
    generator, holds at 500 or more. Returns row counts per table."""
    rng = np.random.default_rng(ANALYTICS_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(round(150000 * sf), 50)
    n_ord = n_cust * 10
    n_line = n_ord * 4
    n_events = max(round(1000000 * sf), 500)
    n_docs = max(round(50000 * sf), 100)
    n_emb = max(round(20000 * sf), 50)
    tables = {}

    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": ["Customer#%09d" % i for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, max(n_cust // 2, 10), n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, max(n_cust // 15, 10), n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
        }
    )
    # naive microseconds, parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
    # as in the TESTDATA.md tables, so queries.load() reads it the same way
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_events)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(n_events // 60, 10), n_events).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50, n_events), 2),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)],
        }
    )
    # documents: random word runs; 5% near-duplicates (an earlier doc
    # plus one marker word) and a few exact copies, so the dedup
    # operators find pairs
    words = np.array(_WORDS)
    texts: List[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
            "source": ["src%d" % (i % 20) for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0, 0.15, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, "%s.parquet" % name))
    return {name: tbl.num_rows for name, tbl in tables.items()}


# ------------------------------------------------------- table commits


def commit_batches(seed: int, n_keys: int, n_appends: int, n_merges: int):
    """Keyed batches for the commit sequence. Appends insert disjoint
    key ranges; each merge upserts a mix of existing and new keys; the
    delete removes one key bucket. Returns (appends, merges, delete_mod)
    where each batch is a list of (k, v, s) rows."""
    rng = random.Random(seed)
    per = n_keys // n_appends
    appends = []
    next_key = 0
    for _ in range(n_appends):
        appends.append(
            [(k, rng.randrange(10**6), "s%04d" % rng.randrange(10**4)) for k in range(next_key, next_key + per)]
        )
        next_key += per
    merges = []
    for _ in range(n_merges):
        n_upd = max(per // 8, 1)
        upd = rng.sample(range(next_key), n_upd)
        new = list(range(next_key, next_key + max(n_upd // 2, 1)))
        next_key += len(new)
        merges.append(
            [(k, rng.randrange(10**6), "s%04d" % rng.randrange(10**4)) for k in sorted(upd) + new]
        )
    return appends, merges, rng.randrange(1, 7)
