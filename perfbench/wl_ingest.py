"""nested_ingest: decode Order-shaped Avro/PBD/JSON, flatten, export.

One op = ``from_<fmt>`` (with or without ``exclude=["payload"]``) →
``.flatten(include=[id, user.name, items])`` → ``.to_arrow()``. The six
(format, pruned) variants run once per round in a seed-shuffled order.
"""

from __future__ import annotations

import os
import random

import pandas as pd

import corpus
from checks import compare, fingerprint
from measure import median

NOMINAL_ROUND_S = 6.0
SIZES = {"full": (6000, 1500), "tiny": (300, 100)}
WARMUP_RECORDS = 400
VARIANTS = [(fmt, pruned) for fmt in ("avro", "pbd", "json") for pruned in (False, True)]


def prepare(ctx):
    n_bin, n_json = SIZES[ctx.scale]
    paths, records = corpus.write_orders(ctx.work, ctx.seed, n_bin, n_json)
    return {"paths": paths, "records": records, "n": {"avro": n_bin, "pbd": n_bin, "json": n_json}}


def expect(ctx, st):
    n_json = st["n"]["json"]
    rows = corpus.flat_rows(st["records"])
    rows_json = corpus.flat_rows(st["records"][:n_json])
    binary = fingerprint(pd.DataFrame(rows, columns=corpus.FLAT_COLUMNS))
    return {
        "avro": binary,
        "pbd": binary,
        "json": fingerprint(pd.DataFrame(rows_json, columns=corpus.FLAT_COLUMNS)),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ingest(ctx, path: str, fmt: str, pruned: bool, detail: bool):
    """The op. With ``detail`` (traced ops) the decoded and flattened
    frames are also materialized on their own so each layer's time can
    be separated, in spans marked extra; untraced ops run the user
    pipeline only."""
    import bamboo_spark as B

    tr = ctx.tracer
    exclude = ["payload"] if pruned else None
    suffix = "_pruned" if pruned else ""
    if fmt == "json":
        with tr.span("sources.json.infer"):
            with open(path) as fh:
                ds = B.from_json(fh.read(), spark=ctx.spark)
        if pruned:
            with tr.span("projection.select_columns"):
                ds = ds.select_columns(exclude=exclude)
    else:
        reader = B.from_avro if fmt == "avro" else B.from_pbd
        with tr.span("sources.%s.plan" % fmt):
            ds = reader(path, exclude=exclude, spark=ctx.spark)
    if detail:
        with tr.span("sources.%s.decode%s" % (fmt, suffix), extra=True):
            _noop(ds.df)
    with tr.span("flatten.plan"):
        flat = ds.flatten(include=corpus.FLATTEN_INCLUDE)
    if detail:
        with tr.span("flatten.exec", extra=True):
            _noop(flat.df)
    with tr.span("dataset.to_arrow"):
        return flat.to_arrow()


def warmup(ctx, st):
    """Every variant once on a small input, three at a time."""
    from concurrent.futures import ThreadPoolExecutor

    wdir = os.path.join(ctx.work, "warmup")
    os.makedirs(wdir)
    paths, _ = corpus.write_orders(wdir, ctx.seed + 1, WARMUP_RECORDS, WARMUP_RECORDS)
    with ThreadPoolExecutor(3) as pool:
        for tbl in pool.map(
            lambda v: _ingest(ctx, paths[v[0]], v[0], v[1], detail=False), VARIANTS
        ):
            tbl.num_rows


def measure(ctx, st, want):
    rng = random.Random(ctx.seed)
    rounds = ctx.seconds / NOMINAL_ROUND_S
    # traced ops materialize three times; keep the traced run's length near the untraced one
    rounds = max(1, int(rounds * 0.75 if ctx.trace else rounds))
    st["nbytes"] = []
    st["rows_out"] = {}
    st["records_done"] = 0
    for _ in range(rounds):
        order = list(VARIANTS)
        rng.shuffle(order)
        for fmt, pruned in order:
            sub = "%s%s" % (fmt, "_pruned" if pruned else "")
            plain = ctx.plain(sub)

            def check(tbl, fmt=fmt):
                st["nbytes"].append((tbl.nbytes, ctx.tracer.op_id))
                st["rows_out"][fmt] = tbl.num_rows
                return compare(fingerprint(tbl.to_pandas()), want[fmt])

            with ctx.untraced(plain):
                out = ctx.rec.op(
                    "ingest",
                    lambda fmt=fmt, pruned=pruned, plain=plain: _ingest(
                        ctx, st["paths"][fmt], fmt, pruned, detail=ctx.trace and not plain
                    ),
                    check,
                    sub=sub,
                    plain=plain,
                )
            if out is not None:
                st["records_done"] += st["n"][fmt]


def end_to_end(ctx, st):
    lat = ctx.rec.samples.get("ingest", [])
    rate = st["records_done"] / sum(lat) if lat else 0.0
    return {"ingest_records_per_s": (rate, "1/s")}


def per_layer(ctx, st):
    tr = ctx.tracer
    ops = tr.by_op()
    out = {}
    for fmt in ("avro", "pbd"):
        full = tr.durations("sources.%s.decode" % fmt)
        pruned = tr.durations("sources.%s.decode_pruned" % fmt)
        out["sources.%s.plan_s" % fmt] = median(tr.durations("sources.%s.plan" % fmt))
        out["sources.%s.decode_s" % fmt] = median(full)
        out["sources.%s.records_per_s" % fmt] = st["n"][fmt] / median(full) if full else 0.0
        out["projection.pruned_over_full_decode.%s" % fmt] = (
            median(pruned) / median(full) if full and pruned else 0.0
        )
    out["sources.json.infer_s"] = median(tr.durations("sources.json.infer"))
    out["sources.json.decode_s"] = median(
        tr.durations("sources.json.decode") + tr.durations("sources.json.decode_pruned")
    )
    flat_self, arrow_self = [], []
    for spans in ops.values():
        dec = sum(v for k, v in spans.items() if k.startswith("sources.") and ".decode" in k)
        if "flatten.exec" in spans:
            flat_self.append(max(spans["flatten.exec"] - dec, 0.0))
            arrow_self.append(max(spans["dataset.to_arrow"] - spans["flatten.exec"], 0.0))
    out["flatten.plan_s"] = median(tr.durations("flatten.plan"))
    out["flatten.exec_s"] = median(flat_self)
    out["flatten.rows_out_per_row_in"] = st["rows_out"].get("avro", 0) / st["n"]["avro"]
    out["dataset.to_arrow_s"] = median(arrow_self)
    rates = [
        nbytes / ops[op]["dataset.to_arrow"]
        for nbytes, op in st["nbytes"]
        if op in ops and "dataset.to_arrow" in ops[op]
    ]
    out["dataset.arrow_bytes_per_s"] = median(rates)
    return out
