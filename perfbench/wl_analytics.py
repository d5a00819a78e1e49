"""The query part of tables_mix: a fixed list of registry queries over parquet.

One op = build the query's DataFrame (``queries._queries_raw()``) and
collect its rows as Arrow, which materializes every output row. Each
round runs every query once in a seed-shuffled order, with
``operators.release_caches()`` between queries. The corpus is fixed
(``corpus.ANALYTICS_SEED``); the run seed only permutes query order.
Expected outputs come from the registry's DuckDB ``oracle_sql()``.
The corpus size is given as a TPC-H scale factor as TESTDATA.md counts
it (lineitem = 6M x sf); see ``corpus.write_analytics_corpus``.
"""

from __future__ import annotations

import os
import random

import corpus
from checks import compare, fingerprint
from measure import median

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q_flatten_lineitem_wide",
    "q_events_props_json",
    "q_sessionize",
    "dedup_minhash",
    "dedup_jaccard",
    "ann_topk",
    "token_counts",
    "curation_pipeline_v2",
]
NOMINAL_ROUND_S = 10.0
SF = {"full": 0.002, "tiny": 0.0005}
WARMUP_SF = 0.0005


def prepare(ctx):
    data = os.path.join(ctx.work, "corpus")
    rows = corpus.write_analytics_corpus(data, SF[ctx.scale])
    warm = os.path.join(ctx.work, "warmup")
    corpus.write_analytics_corpus(warm, WARMUP_SF)
    return {"dir": data, "warmup_dir": warm, "rows": rows}


def expect(ctx, st):
    """Oracle fingerprints, cached under ``ctx.out`` keyed by the corpus
    scale, the generator and fingerprint sources, the DuckDB version and
    the oracle SQL, since the corpus does not depend on the run seed."""
    import hashlib
    import json

    import checks
    import duckdb

    from bamboo_spark.queries import oracle_sql

    sql = {q: oracle_sql()[q] for q in QUERIES}
    h = hashlib.sha256()
    for mod in (corpus, checks):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    h.update(json.dumps([SF[ctx.scale], duckdb.__version__, sql], sort_keys=True).encode())
    key = h.hexdigest()[:16]
    cache = os.path.join(ctx.out, "oracle-%s.json" % key)
    if os.path.exists(cache):
        with open(cache) as fh:
            return {q: (tuple(c), n, h) for q, (c, n, h) in json.load(fh).items()}
    want = _oracle(st["dir"], list(st["rows"]), sql)
    os.makedirs(ctx.out, exist_ok=True)
    with open(cache + ".tmp", "w") as fh:
        json.dump(want, fh)
    os.replace(cache + ".tmp", cache)
    return want


def _oracle(data: str, tables, sql):
    import duckdb

    con = duckdb.connect()
    try:
        for table in tables:
            con.execute(
                "create view %s as select * from read_parquet('%s')"
                % (table, os.path.join(data, "%s.parquet" % table))
            )
        return {q: fingerprint(con.execute(text).df()) for q, text in sql.items()}
    finally:
        con.close()


def _query(ctx, name: str, sf_dir: str):
    from bamboo_spark.queries import _queries_raw

    fn = _queries_raw()[name]
    with ctx.tracer.span("queries.%s.build" % name), ctx.jobs.group("build:" + name):
        df = fn(ctx.spark, sf_dir)
    with ctx.tracer.span("queries.%s.exec" % name), ctx.jobs.group("query:" + name):
        return df.toArrow()


def _release():
    from bamboo_spark.operators import release_caches

    release_caches()


def warmup(ctx, st):
    """Every query once on a small corpus, four at a time: fills the
    JIT, spawns the Python workers and loads table metadata."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(4) as pool:
        for tbl in pool.map(lambda q: _query(ctx, q, st["warmup_dir"]), QUERIES):
            tbl.num_rows
    _release()


def measure(ctx, st, want):
    rng = random.Random(ctx.seed)
    rounds = max(1, int(ctx.seconds // NOMINAL_ROUND_S))
    for _ in range(rounds):
        order = list(QUERIES)
        rng.shuffle(order)
        for name in order:
            plain = ctx.plain(name)
            with ctx.untraced(plain):
                ctx.rec.op(
                    "query",
                    lambda name=name: _query(ctx, name, st["dir"]),
                    lambda tbl, name=name: compare(fingerprint(tbl.to_pandas()), want[name]),
                    sub=name,
                    plain=plain,
                )
            _release()


def end_to_end(ctx, st):
    lat = ctx.rec.samples.get("query", [])
    return {"queries_per_min": (60.0 * len(lat) / sum(lat) if lat else 0.0, "1/min")}


def per_layer(ctx, st):
    tr = ctx.tracer
    out = {}
    for name in QUERIES:
        out["queries.%s.build_s" % name] = median(tr.durations("queries.%s.build" % name))
        out["queries.%s.exec_s" % name] = median(tr.durations("queries.%s.exec" % name))
    return out
